"""Output checks that share no code with the engine.

Detection: a DuckDB query of the same shape as the corpus's
``detect_pipeline`` oracle, run over the very files the stream was fed,
compared with the engine's sink as multisets (EXCEPT ALL both ways).
Ingest: the threshold-1.0 match predicate is "identical distinct
byte-trigram set", replayed epoch by epoch in plain Python.
"""

from __future__ import annotations

import glob
import os
from collections import Counter, defaultdict

_RATE = """
  SELECT key, ts_ms AS alert_ts_ms,
         printf('Rate spike: %d events in %d seconds (threshold: %.0f)',
                cnt, 86400, 4.0) AS details
  FROM (SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(ts) AS ts_ms,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
                 RANGE BETWEEN 86400000 PRECEDING AND CURRENT ROW) AS cnt
        FROM events)
  WHERE cnt > 4
"""

_THRESHOLD = """
  SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(ts) AS alert_ts_ms,
         printf('Threshold exceeded: %s=%.2f (threshold: %.2f)',
                'value', value, 250.0) AS details
  FROM events WHERE value > 250.0
"""

# evaluate-before-insert over the previous 10 values, population sigma,
# the operator's fixed-point (2 decimals) arithmetic
_STATISTICAL = """
  WITH sums AS (
    SELECT user_id, ts, value AS v,
           SUM(c) OVER w AS s, SUM(c * c) OVER w AS ssq, COUNT(c) OVER w AS n
    FROM (SELECT *, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
          FROM events)
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)),
  stats AS (
    SELECT user_id, ts, v, n,
           (CAST(s AS DOUBLE) / 100.0) / n AS mean_true,
           FLOOR((2 * s + n) / (2 * n)) / 100.0 AS mean_fmt,
           SQRT(GREATEST((CAST(ssq AS DOUBLE) / 10000.0) / n
             - ((CAST(s AS DOUBLE) / 100.0) / n)
               * ((CAST(s AS DOUBLE) / 100.0) / n), 0.0)) AS sd
    FROM sums)
  SELECT CAST(user_id AS VARCHAR) AS key, epoch_ms(ts) AS alert_ts_ms,
         printf('Statistical outlier: %s=%.2f (mean=%.2f, stddev=%.2f, factor=%.1f)',
                'value', v, mean_fmt, FLOOR(sd * 100 + 0.5) / 100.0, 2.5) AS details
  FROM stats
  WHERE n >= 2
    AND ABS(v - mean_true) > (CASE WHEN sd = 0 THEN 0 ELSE 2.5 * sd END)
"""

DETECT_ORACLE = f"""
SELECT 'high_rate' AS rule_name, key, alert_ts_ms, details, 0 AS rule_index
  FROM ({_RATE})
UNION ALL
SELECT 'high_value', key, alert_ts_ms, details, 1 FROM ({_THRESHOLD})
UNION ALL
SELECT 'unusual_value', key, alert_ts_ms, details, 2 FROM ({_STATISTICAL})
"""


def _sql_list(paths: list[str]) -> str:
    return "[" + ", ".join("'" + p.replace("'", "''") + "'" for p in paths) + "]"


def check_detect(event_files: list[str], sink_dir: str, file_of_ts_ms) -> dict:
    """Compare the engine's alerts with the oracle. Returns the alert
    count, an order-free value hash of the engine's alerts, and the
    set of input files (= triggers) that carry any mismatching alert."""
    import duckdb

    con = duckdb.connect()
    try:
        con.execute("SET threads = 2")
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet({_sql_list(event_files)})"
        )
        parts = sorted(glob.glob(os.path.join(sink_dir, "part-*.parquet")))
        if parts:
            con.execute(f"""
                CREATE VIEW engine AS
                SELECT rule_name, key, epoch_ms(alert_ts) AS alert_ts_ms,
                       details, CAST(rule_index AS INTEGER) AS rule_index
                FROM read_parquet({_sql_list(parts)})""")
        else:
            con.execute("""
                CREATE VIEW engine AS
                SELECT '' AS rule_name, '' AS key, 0::BIGINT AS alert_ts_ms,
                       '' AS details, 0 AS rule_index WHERE false""")
        con.execute(f"CREATE TABLE oracle AS {DETECT_ORACLE}")
        n, digest = con.execute(
            "SELECT count(*), coalesce(sum(hash(rule_name, key, alert_ts_ms, "
            "details, rule_index)) % 18446744073709551557, 0) FROM engine"
        ).fetchone()
        want = con.execute("SELECT count(*) FROM oracle").fetchone()[0]
        bad_ts = con.execute("""
            SELECT alert_ts_ms FROM (SELECT * FROM engine EXCEPT ALL SELECT * FROM oracle)
            UNION ALL
            SELECT alert_ts_ms FROM (SELECT * FROM oracle EXCEPT ALL SELECT * FROM engine)
        """).fetchall()
    finally:
        con.close()
    return {
        "alerts": int(n),
        "oracle_alerts": int(want),
        "alerts_hash": int(digest),
        "bad_files": sorted({file_of_ts_ms(t) for (t,) in bad_ts}),
    }


def trigram_set(text: str) -> frozenset:
    return frozenset(text[i:i + 3] for i in range(len(text) - 2))


def ingest_reference(base, epochs) -> tuple[set, set]:
    """Replay the loop at threshold 1.0 with the intra-batch stage on.

    Per epoch, a document whose trigram set equals a smaller-id document
    of the same epoch is an intra-batch match; every other document
    matches if the index holds its trigram set, and is accepted (and
    indexed) otherwise. Returns (accepted, matches) as sets of
    ``(doc_id, epoch)`` and ``(new_id, n_matches, first_match,
    within_batch, best_jaccard, epoch)``."""
    index: dict[frozenset, list[int]] = defaultdict(list)
    for doc_id, text in zip(*base):
        index[trigram_set(text)].append(int(doc_id))
    accepted, matches = set(), set()
    for e, (ids, texts) in enumerate(epochs):
        seen: dict[frozenset, list[int]] = defaultdict(list)
        rows = sorted(zip((int(i) for i in ids), map(trigram_set, texts)))
        new: list[tuple[int, frozenset]] = []
        for doc_id, fp in rows:
            prior = seen[fp]
            if prior:
                matches.add((doc_id, len(prior), prior[0], True, 1.0, e))
            elif fp in index:
                hits = index[fp]
                matches.add((doc_id, len(hits), min(hits), False, 1.0, e))
            else:
                accepted.add((doc_id, e))
                new.append((doc_id, fp))
            prior.append(doc_id)
        for doc_id, fp in new:
            index[fp].append(doc_id)
    return accepted, matches


def read_ingest_outputs(accepted_dir: str, matches_dir: str, epoch_of_batch: dict):
    """The engine's sinks in the reference's shape, as multisets; batch
    ids are mapped to epoch ordinals through the order the files were
    fed."""
    import pyarrow.parquet as pq

    def rows(directory: str, cols: list[str]) -> list[tuple]:
        files = sorted(glob.glob(os.path.join(directory, "*.parquet")))
        if not files:
            return []
        out = []
        for f in files:
            t = pq.read_table(f, columns=cols).to_pydict()
            out.extend(zip(*(t[c] for c in cols)))
        return out

    accepted = Counter(
        (int(i), epoch_of_batch.get(int(b), -1))
        for i, b in rows(accepted_dir, ["doc_id", "epoch"])
    )
    matches = Counter(
        (int(i), int(n), int(f), bool(w), float(j), epoch_of_batch.get(int(b), -1))
        for i, n, f, w, j, b in rows(
            matches_dir,
            ["new_id", "n_matches", "first_match", "within_batch",
             "best_jaccard", "epoch"],
        )
    )
    return accepted, matches
