"""One scale notch ABOVE the recorded evidence (round 7, VERDICT item
7): every number in the record through round 6 is sf0.1-sized (or the
40-50 k synthetic stress corpora). This harness runs the heavy operator
families once at an ~sf1-equivalent slice — 150 k documents, 150 k
embeddings, 1 M events (10× the sf0.1 tables) — hunting SUPER-LINEAR
cliffs the smaller fixtures cannot show: hot-bucket salting at
3 000-row buckets, candidate-join growth, IVF cell skew at 150 k
vectors, ingest-loop file-count drift at 25 k-doc epochs, and the
event-time reorder buffer holding ~150 k events per micro-batch.

Sections (all one Spark session, per-section wall + 1-min loadavg):

- x19 (minhash_verified_pairs) at 50 k AND 150 k in the same process —
  the same 50 k shape round 5 recorded, so the growth ratio is
  same-host, same-JIT. The 150 k corpus deliberately scales the hot
  cluster SUB-proportionally (3 000, not 6 000): the point is 3× the
  doc/background scale with a bounded pair-space ratio (×2.25), so a
  super-linear candidate/salting cliff shows up as t_ratio blowing past
  the pair ratio instead of being drowned by quadratic verify work the
  50 k run already prices.
- x08 (candidates) at 150 k, with the max (band,bucket) size recorded —
  3 000-row hot buckets are ~12× the salting cutoff (256), so the
  adaptive salted regime is engaged by construction.
- x70 (containment) at 150 k: rare-feature blocking must still absorb
  the hot cluster (hot pairs ≤ n/250) and keep planted coverage.
- x20 (IVF ANN) at 150 k vectors × 500 queries vs the brute-force
  truth: recall@5 floor 0.9 at nprobe 8/64; hot-cell size recorded.
- the INGEST LOOP at sf1 shape: 25 k-doc base index + 4 epochs × 25 k
  through run_dedup_ingest (compact_every=2), per-epoch flatness
  (max/min excl. the init epoch < 2.5) and loop ≡ batch-rebuild
  bit-equality at this scale.
- STREAMING detect at 1 M events (10× sf0.1): the events table replicated
  10× (per-copy user_id/event_id offsets; per-copy ts blocks so the
  watermark advances file by file), run through BOTH execution
  disciplines — arrival-order key-packed and event-time packed
  (x84/x86's backends) — each as 10+ micro-batches, and both alert
  sets compared EXACTLY (exceptAll both ways) against the batch
  compile_rules plan on the same frame. Parity at 10× is the
  assertion; events/sec is the recorded throughput.

Run:  python tools/sf1_scale_stress.py [--out STRESS_r07_sf1.json]
(~20-35 min; run on an otherwise idle host — loadavg is recorded per
section so a contended run is self-evident.)
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time
from functools import reduce

_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_HERE))

from pyspark.sql import functions as F

SENTINEL_KEY = -1


def _load():
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover
        return None


def _session():
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "24g")
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="ss_sf1_wh_"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def run(out_path: str, sf_dir: str = "/root/testdata/sf0.1") -> dict:
    from stream_sentinel_spark.operators.dedup import (
        _banded_keys,
        build_minhash_index,
        containment_pairs,
        match_minhash_index,
        minhash_lsh_candidates,
        minhash_signatures,
        minhash_verified_pairs,
    )
    from stream_sentinel_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        ivf_train,
    )
    from stream_sentinel_spark.sources.batch import load_table
    from stream_sentinel_spark.streaming import (
        compile_rules_streaming,
        read_file_stream,
    )
    from stream_sentinel_spark.streaming.ingest import run_dedup_ingest
    from stream_sentinel_spark.streaming.sources import DEFAULT_WATERMARK
    from stream_sentinel_spark.plans.corpus import DEFAULT_RULES
    from stream_sentinel_spark.plans.pipeline import compile_rules
    from stream_sentinel_spark.testing import make_skewed_corpus

    spark = _session()
    rec: dict = {"sf_equiv": 1.0, "loadavg": {}}
    root = tempfile.mkdtemp(prefix="ss_sf1_")

    # ---- corpora ----------------------------------------------------------
    def truth(hot, planted):
        return hot * (hot - 1) // 2 + planted

    c50 = make_skewed_corpus(spark, n_docs=50_000, hot_cluster=2_000,
                             planted_pairs=2_500)
    c150 = make_skewed_corpus(spark, n_docs=150_000, hot_cluster=3_000,
                              planted_pairs=7_500)
    c50.docs.localCheckpoint(eager=True)
    c150.docs.localCheckpoint(eager=True)

    # ---- x19 at 50k (calibration) and 150k ---------------------------------
    rec["loadavg"]["x19"] = _load()
    x19 = {}
    for tag, c, hot, planted in (("50k", c50, 2_000, 2_500),
                                 ("150k", c150, 3_000, 7_500)):
        t0 = time.time()
        v = minhash_verified_pairs(c.docs, "doc_id", "text", threshold=0.8)
        found = v.count()
        dt = time.time() - t0
        hit = v.join(c.planted, ["a_id", "b_id"]).count()
        x19[tag] = {
            "n_docs": c.n_docs, "true_pairs": truth(hot, planted),
            "pairs": found, "sec": round(dt, 2),
            "recall": round(found / truth(hot, planted), 6),
            "planted_recall": round(hit / planted, 6),
        }
        print(f"x19 {tag}: {found} pairs in {dt:.1f}s", flush=True)
    rec["x19"] = x19
    rec["x19_pair_ratio"] = round(
        x19["150k"]["true_pairs"] / x19["50k"]["true_pairs"], 3
    )
    rec["x19_time_ratio"] = round(x19["150k"]["sec"] / x19["50k"]["sec"], 2)

    # ---- x08 candidates at 150k (salted regime engaged by construction) ---
    rec["loadavg"]["x08"] = _load()
    sig = minhash_signatures(c150.docs, "doc_id", "text")
    max_bucket = (
        _banded_keys(sig, 64, 16).groupBy("band", "bucket")
        .agg(F.count(F.lit(1)).alias("n")).agg(F.max("n")).first()[0]
    )
    rec["x08_max_band_bucket_rows_150k"] = max_bucket
    t0 = time.time()
    rec["x08_candidates_150k"] = minhash_lsh_candidates(
        c150.docs, "doc_id", "text"
    ).count()
    rec["x08_sec_150k"] = round(time.time() - t0, 2)
    print(f"x08 150k: {rec['x08_candidates_150k']} in {rec['x08_sec_150k']}s "
          f"(max bucket {max_bucket})", flush=True)

    # ---- x70 containment at 150k -------------------------------------------
    rec["loadavg"]["x70"] = _load()
    t0 = time.time()
    cp = containment_pairs(
        c150.docs, "doc_id", "text", n=3, threshold=0.9, rare_frac=0.2,
        min_size=5,
    ).localCheckpoint(eager=True)
    rec["x70_pairs_150k"] = cp.count()
    rec["x70_sec_150k"] = round(time.time() - t0, 2)
    rec["x70_hot_pairs_150k"] = cp.filter(
        (F.col("a_id") < 3_000) & (F.col("b_id") < 3_000)
    ).count()
    rec["x70_planted_hit_150k"] = cp.join(
        c150.planted, ["a_id", "b_id"]
    ).count()
    print(f"x70 150k: {rec['x70_pairs_150k']} pairs in {rec['x70_sec_150k']}s",
          flush=True)

    # ---- x20 IVF at 150k ----------------------------------------------------
    rec["loadavg"]["x20"] = _load()
    from stream_sentinel_spark.testing import make_skewed_embeddings

    e = make_skewed_embeddings(
        spark, n_vecs=150_000, hot_cluster=15_000, planted_pairs=1_000,
        n_queries=500, dim=64,
    )
    e.vectors.localCheckpoint(eager=True)
    e.queries.localCheckpoint(eager=True)
    t0 = time.time()
    exact = brute_force_topk(
        e.vectors, e.queries, "vec_id", "embedding", k=5
    ).localCheckpoint(eager=True)
    rec["x20_exact_sec_150k"] = round(time.time() - t0, 2)
    t0 = time.time()
    centroids = ivf_train(e.vectors, "vec_id", "embedding", n_cells=64, iters=3)
    rec["x20_train_sec_150k"] = round(time.time() - t0, 2)
    t0 = time.time()
    approx = ivf_topk(
        e.vectors, e.queries, "vec_id", "embedding",
        k=5, n_cells=64, nprobe=8, centroids=centroids,
    ).localCheckpoint(eager=True)
    rec["x20_query_sec_150k"] = round(time.time() - t0, 2)
    sizes = [
        r.n for r in ivf_assign(e.vectors, centroids, "vec_id", "embedding")
        .groupBy("cell").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    rec["x20_hot_cell_rows_150k"] = max(sizes)
    n_exact = exact.count()
    rec["x20_recall_at_5_150k"] = round(
        approx.select("q_id", "n_id").join(
            exact.select("q_id", "n_id"), ["q_id", "n_id"]
        ).count() / n_exact, 6,
    )
    print(f"x20 150k: recall@5 {rec['x20_recall_at_5_150k']} "
          f"(query {rec['x20_query_sec_150k']}s, "
          f"exact {rec['x20_exact_sec_150k']}s)", flush=True)

    # ---- ingest loop at sf1 shape ------------------------------------------
    # 5 append epochs with compact_every=2: compactions land inside
    # epochs 2 and 4, leaving epochs 3 and 5 as clean append-only
    # measurements — the flatness assertion runs on those (compaction is
    # a known periodic cost, not a drift; it is recorded separately)
    rec["loadavg"]["ingest"] = _load()
    m = F.col("doc_id") % 7
    base = c150.docs.filter(m == 0)
    probe = c150.docs.filter(m == 6)
    t0 = time.time()
    build_minhash_index(base, "sf1_ing", num_hashes=32, bands=8)
    rec["ingest_build_sec"] = round(time.time() - t0, 2)
    src = f"{root}/ing_src"
    for ep in range(1, 6):
        c150.docs.filter(m == ep).coalesce(1).write.mode("append").parquet(src)
    stream = read_file_stream(
        spark, src, c150.docs.schema, time_col=None, watermark=None,
        max_files_per_trigger=1,
    )
    t0 = time.time()
    q = run_dedup_ingest(
        stream, checkpoint_location=f"{root}/ing_ckpt", available_now=True,
        table="sf1_ing", kind="minhash", id_col="doc_id", content_col="text",
        threshold=0.8, accepted_path=f"{root}/ing_acc",
        matches_path=f"{root}/ing_match", commit_log_dir=f"{root}/ing_commits",
        compact_every=2,
    )
    q.awaitTermination()
    rec["ingest_stream_sec"] = round(time.time() - t0, 2)
    durs = [
        p["durationMs"].get("triggerExecution")
        for p in (json.loads(x.json) for x in q.recentProgress)
        if p["numInputRows"] > 0
    ]
    rec["ingest_epoch_ms"] = durs
    # epochs (1-indexed): 1 carries source/JIT init; 2 and 4 carry the
    # in-loop compaction; 3 and 5 are the clean steady-state appends
    clean = [durs[2], durs[4]]
    rec["ingest_flatness_clean_epochs"] = round(
        max(clean) / max(min(clean), 1), 2
    )
    rec["ingest_flatness_excl_first"] = round(
        max(durs[1:]) / max(min(durs[1:]), 1), 2
    )
    accepted = spark.read.parquet(f"{root}/ing_acc")
    rec["ingest_accepted"] = accepted.count()
    rec["ingest_index_files"] = len(spark.table("sf1_ing_bands").inputFiles())
    cols = ("new_id", "n_matches", "best_jaccard", "first_match")
    rows = lambda df: sorted(  # noqa: E731
        tuple(r[c] for c in cols) for r in df.collect()
    )
    got = rows(match_minhash_index(spark, probe, "sf1_ing", threshold=0.8))
    build_minhash_index(
        base.unionByName(accepted.drop("epoch")).localCheckpoint(eager=True),
        "sf1_ing_rb", num_hashes=32, bands=8,
    )
    want = rows(match_minhash_index(spark, probe, "sf1_ing_rb", threshold=0.8))
    rec["ingest_probe_rows"] = len(got)
    rec["ingest_loop_equals_rebuild"] = got == want
    print(f"ingest: epochs {durs}, loop==rebuild "
          f"{rec['ingest_loop_equals_rebuild']}", flush=True)

    # ---- streaming detect at 1.5M events ------------------------------------
    rec["loadavg"]["streaming"] = _load()
    ev = load_table(spark, sf_dir, "events")
    span_ms = ev.agg(
        (F.max(F.unix_millis("ts")) - F.min(F.unix_millis("ts")))
    ).head()[0] + 60_000

    def copy(k: int):
        return ev.select(
            (F.col("event_id") + F.lit(k * 100_000_000)).alias("event_id"),
            F.timestamp_millis(
                F.unix_millis("ts") + F.lit(int(k) * span_ms)
            ).alias("ts"),
            (F.col("user_id") + F.lit(k * 10_000_000)).alias("user_id"),
            "event_type", "value", "props",
        ).select(*ev.columns)

    big = reduce(
        lambda a, b: a.unionByName(b), [copy(k) for k in range(10)]
    ).localCheckpoint(eager=True)
    rec["stream_events"] = big.count()

    src = f"{root}/ev_src"
    mtime = None
    for k in range(10):
        copy(k).coalesce(1).write.mode("append").parquet(src)
    # enforce file order = copy order (maxFilesPerTrigger picks by mtime)
    files = sorted(
        (f for f in os.listdir(src) if f.startswith("part-")),
        key=lambda f: os.stat(f"{src}/{f}").st_mtime,
    )
    base_mt = time.time()
    for i, f in enumerate(files):
        os.utime(f"{src}/{f}", (base_mt, base_mt + 2.0 * i))
    # two sentinel files past global max(ts) drain the event-time buffers
    max_ms = big.agg(F.max(F.unix_millis("ts"))).head()[0]
    for j, off in enumerate((10_000, 20_000)):
        before = set(os.listdir(src))
        spark.createDataFrame(
            [(-(j + 1), SENTINEL_KEY, "sentinel")],
            "event_id long, user_id long, event_type string",
        ).select(
            "event_id",
            F.timestamp_millis(F.lit(max_ms + off)).alias("ts"),
            "user_id", "event_type",
            F.lit(None).cast("double").alias("value"),
            F.lit(None).cast("string").alias("props"),
        ).select(*ev.columns).coalesce(1).write.mode("append").parquet(src)
        for f in set(os.listdir(src)) - before:
            os.utime(f"{src}/{f}",
                     (base_mt, base_mt + 2.0 * (len(files) + j + 1)))

    batch_alerts = compile_rules(
        big, DEFAULT_RULES, key_field="user_id", time_col="ts",
        order_cols=("event_id",),
    ).select(
        "rule_name", "key", F.unix_millis("alert_ts").alias("ts_ms"),
        "details", "rule_index",
    ).localCheckpoint(eager=True)
    rec["batch_alerts"] = batch_alerts.count()

    for mode, wm in (
        ("arrival_bucketed", None),
        ("event_time_bucketed", DEFAULT_WATERMARK),
    ):
        out = f"{root}/alerts_{mode}"
        stream = read_file_stream(
            spark, src, ev.schema, time_col="ts", watermark=wm,
            max_files_per_trigger=1,
        )
        alerts = compile_rules_streaming(
            stream, DEFAULT_RULES, key_field="user_id", time_col="ts",
            order_cols=("event_id",), event_time=wm is not None,
        )
        t0 = time.time()
        q = (
            alerts.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", f"{root}/ckpt_{mode}")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        wall = time.time() - t0
        got = spark.read.parquet(out).filter(
            F.col("key") != str(SENTINEL_KEY)
        ).select(
            "rule_name", "key", F.unix_millis("alert_ts").alias("ts_ms"),
            "details", "rule_index",
        )
        only_s = got.exceptAll(batch_alerts).count()
        only_b = batch_alerts.exceptAll(got).count()
        rec[f"{mode}_sec"] = round(wall, 2)
        rec[f"{mode}_eps"] = int(rec["stream_events"] / wall)
        rec[f"{mode}_alerts"] = got.count()
        rec[f"{mode}_parity"] = only_s == 0 and only_b == 0
        print(f"{mode}: {rec[f'{mode}_eps']} ev/s, parity "
              f"{rec[f'{mode}_parity']}", flush=True)

    # ---- assertions ---------------------------------------------------------
    # the artifact is written BEFORE the assertions run (and rewritten
    # after with the flag flipped): a failed assertion must not discard
    # 25 minutes of recorded measurements (learned the hard way — the
    # first run died on a miscalibrated bound with every number green)
    rec["all_assertions_pass"] = False
    with open(out_path, "w") as fh:
        json.dump(rec, fh, indent=1)
    assert x19["150k"]["recall"] >= 0.999 and x19["150k"]["planted_recall"] >= 0.99
    # super-linearity guard: 3x docs / 2.25x pair space must not blow
    # past 3x the pair ratio (salting keeps the hot buckets task-bounded)
    assert rec["x19_time_ratio"] < 3 * rec["x19_pair_ratio"], rec["x19_time_ratio"]
    assert rec["x08_max_band_bucket_rows_150k"] > 256, "salted regime not engaged"
    assert rec["x70_hot_pairs_150k"] <= 150_000 // 250
    assert rec["x70_planted_hit_150k"] >= 0.9 * 7_500
    assert rec["x20_recall_at_5_150k"] >= 0.9
    assert rec["ingest_loop_equals_rebuild"]
    assert rec["ingest_flatness_clean_epochs"] < 2.5
    # compaction ran twice (compact_every=2, 5 appends): file count is
    # reset-bounded, not append-proportional — 32 files from the
    # epoch-4 compaction + ≤32 from the ALIGNED epoch-5 append (the
    # round-7 align=True append writes ≤1 file/bucket; the first run of
    # this harness measured 1056 = 32 + 32 tasks × 32 buckets under the
    # unaligned append, which is what motivated the alignment)
    assert rec["ingest_index_files"] <= 96, rec["ingest_index_files"]
    assert rec["arrival_bucketed_parity"] and rec["event_time_bucketed_parity"]
    assert rec["batch_alerts"] > 0
    rec["all_assertions_pass"] = True

    with open(out_path, "w") as fh:
        json.dump(rec, fh, indent=1)
    print(json.dumps(rec))
    return rec


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="STRESS_r07_sf1.json")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    run(args.out, args.sf_dir)
