#!/usr/bin/env python
"""Round-6 optimization measurement harness (guide §1: measure first).

bench.py is FROZEN for driver measurement; everything exploratory lives
here. Modes:

  python bench_extra.py --queries [names...]   per-query isolation: noop
      force of each headline catalog query, repeated, with the Spark
      status-store stage delta (executor run/cpu seconds, task counts,
      shuffle bytes) recorded next to the wall time — separates driver/
      planning cost from executor work (§1.1/§1.4).
  python bench_extra.py --named [names...]     the non-catalog bench
      entries (ocr_pipeline, bm25, phash, ...) reusing bench.py's own
      functions unmodified.
  python bench_extra.py --plans TAG [names...] write .explain("formatted")
      for each catalog query to plans/r06/<name>_<TAG>.txt.

Results land in BENCH/r06_probe_<label>.json (one file per invocation,
labelled via --label) so before/after evidence is diffable.
"""

from __future__ import annotations

import json
import os
import sys
import time

import bench  # the frozen harness: reuse its helpers verbatim


def _explain_formatted(df) -> str:
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def _measured(spark, fn, repeats: int = 2) -> dict:
    """Run fn() -> DataFrame `repeats` times through the noop sink,
    recording wall seconds and the stage-metric delta per run."""
    runs = []
    for _ in range(repeats):
        before = bench._stage_snapshot(spark)
        t0 = time.time()
        df = fn()
        built = time.time() - t0  # driver-side: query construction
        bench._force(df)
        wall = time.time() - t0
        delta = bench._stage_delta(spark, before, bench._stage_snapshot(spark))
        runs.append(
            {
                "sec": round(wall, 3),
                "build_sec": round(built, 3),
                "executor_run_s": delta["executor_run_s"],
                "executor_cpu_s": delta["executor_cpu_s"],
                "stages": delta["stages"],
                "tasks": delta["tasks"],
                "shuffle_write_mb": delta["shuffle_write_mb"],
                "top_stages": delta["top_stages"],
            }
        )
    return {"runs": runs, "min_sec": min(r["sec"] for r in runs)}


def _run_compact10x(spark, out: dict) -> None:
    """Round-5 verdict item #8: lineage compaction at 10× (500k rows =
    50k docs × 10 epochs). Pins (a) one-row-per-doc output size and
    (b) replay-identical resume: resume_filter over the compacted table
    excludes EXACTLY the docs the full history excludes."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from pmocr_spark import checkpoint as ckpt
    from pmocr_spark import pipeline

    n_docs, epochs = 50_000, 10
    tmp = tempfile.mkdtemp(prefix="pmocr_compact10x_")
    path = f"{tmp}/lineage"
    try:
        base = spark.range(n_docs).select(F.col("id").cast("string").alias("doc_id"))
        t0 = time.time()
        for ep in range(epochs):
            # deterministic status evolution: most docs done every epoch;
            # doc_id%97==0 fails until epoch 7 then succeeds; %89==0
            # keeps failing (quarantine path); ts advances per epoch
            status = (
                F.when((F.col("doc_id") % 97 == 0) & (F.lit(ep) < 7), "failed")
                .when(F.col("doc_id") % 89 == 0, "failed")
                # %83 docs fail ONLY in the last epoch (retry_count 1):
                # past the backoff window they are READMITTED, so the
                # resume set is non-empty and the full-vs-compacted
                # parity check compares real membership, not {} == {}
                .when((F.col("doc_id") % 83 == 0) & (F.lit(ep) == 9), "failed")
                .otherwise("done")
            )
            rows = base.select(
                F.lit(0).alias("partition_id"),
                "doc_id",
                status.alias("status"),
                F.lit(1).alias("span_count"),
                (status == "failed").cast("int").alias("error_count"),
                F.when(status == "failed", F.lit("CodecError: x")).alias("error"),
                F.when(
                    status == "failed",
                    F.when(F.col("doc_id") % 89 == 0, ep + 1)
                    .when(F.col("doc_id") % 97 == 0, ep + 1)
                    .otherwise(1),
                )
                .otherwise(0)
                .cast("int")
                .alias("retry_count"),
                F.lit(f"run-{ep}").alias("run_id"),
                (F.lit("2024-01-01 00:00:00").cast("timestamp")
                 + F.make_dt_interval(secs=F.lit(ep * 400))).alias("ts"),
            )
            rows.write.mode("append").parquet(path)
        build_sec = round(time.time() - t0, 3)
        full = spark.read.parquet(path)
        n_full = full.count()
        docs = base.select("doc_id", F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("spans"))
        job_ts = "2024-01-01 02:00:00"
        before_ids = {
            r["doc_id"]
            for r in pipeline.resume_filter(docs, full, job_ts=job_ts)
            .select("doc_id").collect()
        }
        t0 = time.time()
        n_compact = ckpt.compact_checkpoint(spark, path)
        compact_sec = round(time.time() - t0, 3)
        comp = spark.read.parquet(path)
        after_ids = {
            r["doc_id"]
            for r in pipeline.resume_filter(docs, comp, job_ts=job_ts)
            .select("doc_id").collect()
        }
        out["compact10x"] = {
            "rows_before": n_full,
            "rows_after": n_compact,
            "one_row_per_doc": n_compact == n_docs,
            "resume_identical": before_ids == after_ids,
            "n_resume_docs": len(after_ids),
            "build_sec": build_sec,
            "compact_sec": compact_sec,
        }
        print(f"[extra] compact10x: {out['compact10x']}", file=sys.stderr, flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _run_lm10x(spark, out: dict) -> None:
    """Round-5 verdict item #6: 10× task-uniformity checkpoint for the
    round-5 heavyweight arms scale10x does not cover — q24's bigram-LM
    model build (Stupid-Backoff transition scoring), q44's anchor
    aggregation and per-doc tf-idf. Records wall, exchange count and the
    top stages' task-time quantiles; a p95/p50 > 5 straggler is the
    failure signal (none expected: every reduce key is vocab- or
    doc-keyed)."""
    from pyspark.sql import functions as F

    from pmocr_spark.operators.dedup_index import ngram_rows
    from pmocr_spark.operators.keywords import tfidf_topk
    from pmocr_spark.operators.linkgraph import anchor_topk

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    base = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    ten = None
    for i in range(10):
        rep = base.select(
            (F.col("doc_id") + i * 10_000_000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" rep{i}")).alias("text"),
        )
        ten = rep if ten is None else ten.unionAll(rep)
    docs = ten.persist()
    n = docs.count()
    out["n_docs"] = n

    def measured(name, df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        before = bench._stage_snapshot(spark)
        t0 = time.time()
        bench._force(df)
        sec = round(time.time() - t0, 3)
        delta = bench._stage_delta(spark, before, bench._stage_snapshot(spark))
        quant = [s["task_run_ms_q05_50_95"] for s in delta["top_stages"]]
        straggler = any(
            q and q[1] and q[2] / max(q[1], 1) > 5 for q in quant
        )
        out[name] = {
            "sec": sec,
            "exchanges": plan.count("Exchange"),
            "tasks": delta["tasks"],
            "top_task_quantiles_ms": quant,
            "straggler_p95_over_p50_gt5": straggler,
        }
        print(f"[extra] lm10x {name}: {out[name]}", file=sys.stderr, flush=True)

    # q24's LM leg: bigram counts of the even half + per-(doc, bigram)
    # transitions — the Stupid-Backoff model-build shuffles
    grams = ngram_rows(docs, 2, "bg")
    sb_bi = grams.filter(F.col("doc_id") % 2 == 0).groupBy("bg").agg(
        F.count("*").alias("cb")
    )
    measured("q24_sb_bigram_model", sb_bi)
    trans = grams.groupBy("doc_id", "bg").agg(F.count("*").alias("k"))
    measured("q24_sb_transitions", trans)
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    anc = docs.select(
        F.concat(F.lit("h"), ((F.col("doc_id") * 31 + 7) % 64).cast("string")).alias("dst"),
        F.element_at(toks, (F.lit(1) + F.col("doc_id") % 3).cast("int")).alias("anchor"),
    )
    measured("q44_anchor_topk", anchor_topk(anc, k=3))
    measured("q44_tfidf_topk", tfidf_topk(docs, toks, k=3))
    docs.unpersist()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    label = "probe"
    args = list(sys.argv[1:])
    if "--label" in args:
        i = args.index("--label")
        label = args[i + 1]
        del args[i : i + 2]
    mode = args[0] if args else "--queries"
    names = args[1:]

    from pmocr_spark.queries import QUERY_FNS

    out: dict = {"sf_dir": sf_dir, "cpus": cpus, "host_probe": bench._host_probe()}
    print(f"[extra] host probe: {out['host_probe']}", file=sys.stderr, flush=True)

    if mode == "--lm10x":
        spark = bench._make_spark(cpus, extra={"spark.ui.showConsoleProgress": "false"})
        _run_lm10x(spark, out)
        spark.stop()
        os.makedirs("BENCH", exist_ok=True)
        with open(f"BENCH/r06_probe_{label}.json", "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps({"written": f"BENCH/r06_probe_{label}.json"}))
        return

    if mode == "--compact10x":
        spark = bench._make_spark(cpus)
        _run_compact10x(spark, out)
        spark.stop()
        os.makedirs("BENCH", exist_ok=True)
        with open(f"BENCH/r06_probe_{label}.json", "w") as f:
            json.dump(out, f, indent=1)
        print(json.dumps({"written": f"BENCH/r06_probe_{label}.json"}))
        return

    if mode == "--plans":
        tag = names[0]
        qnames = names[1:] or [n for n in bench.HEADLINE if n in QUERY_FNS]
        spark = bench._make_spark(cpus)
        os.makedirs("plans/r06", exist_ok=True)
        for name in qnames:
            df = QUERY_FNS[name](spark, sf_dir)
            with open(f"plans/r06/{name}_{tag}.txt", "w") as f:
                f.write(_explain_formatted(df))
            print(f"[extra] plan written: {name}_{tag}", file=sys.stderr, flush=True)
        spark.stop()
        return

    spark = bench._make_spark(cpus, extra={"spark.ui.showConsoleProgress": "false"})

    if mode == "--named":
        import tempfile

        with tempfile.TemporaryDirectory(prefix="pmocr_extra_") as tmp:
            bench._prep_ocr_corpus(tmp, bench.OCR_BENCH_DOCS)
            bench._warm_python_workers(spark, tmp)
            todo = names or [
                "ocr_pipeline", "html_extract", "phash_near_dup", "srp_near_dup",
                "bpe_learn", "video_transcribe", "word_boxes", "unigram_train",
                "bm25_index_search", "warc_ingest",
            ]
            for name in todo:
                before = bench._stage_snapshot(spark)
                t0 = time.time()
                if name == "ocr_pipeline":
                    r = bench._bench_ocr(spark, tmp, bench.OCR_BENCH_DOCS)
                elif name == "html_extract":
                    r = bench._bench_html(spark, sf_dir)
                elif name == "phash_near_dup":
                    r = bench._bench_phash(spark, tmp)
                elif name == "srp_near_dup":
                    r = bench._bench_srp(spark, sf_dir)
                elif name == "bpe_learn":
                    r = bench._bench_bpe(spark, sf_dir)
                elif name == "video_transcribe":
                    r = bench._bench_video(spark, sf_dir)
                elif name == "word_boxes":
                    r = bench._bench_word_boxes(spark, sf_dir)
                elif name == "unigram_train":
                    r = bench._bench_unigram(spark, sf_dir)
                elif name == "bm25_index_search":
                    r = bench._bench_bm25(spark, sf_dir, tmp)
                elif name == "warc_ingest":
                    r = bench._bench_warc(spark, sf_dir, tmp)
                else:
                    continue
                delta = bench._stage_delta(spark, before, bench._stage_snapshot(spark))
                out[name] = {
                    **r,
                    "wall_with_setup": round(time.time() - t0, 3),
                    "executor_run_s": delta["executor_run_s"],
                    "executor_cpu_s": delta["executor_cpu_s"],
                    "stages": delta["stages"],
                    "tasks": delta["tasks"],
                    "shuffle_write_mb": delta["shuffle_write_mb"],
                }
                print(f"[extra] {name}: {r['sec']}s "
                      f"(exec run {delta['executor_run_s']}s over {delta['tasks']} tasks, "
                      f"{delta['stages']} stages)", file=sys.stderr, flush=True)
    else:
        # spin up the python-worker pool (bench._warm_python_workers needs
        # the blob corpus; a tiny pandas-UDF job over documents suffices)
        import pandas as pd
        from pyspark.sql import functions as F

        def _ident(s):
            return s

        _noopu = F.pandas_udf(_ident, "long")

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        npart = int(spark.conf.get("spark.sql.shuffle.partitions"))
        bench._force(docs.repartition(npart).select(_noopu("doc_id")))
        todo = names or [n for n in bench.HEADLINE if n in QUERY_FNS]
        for name in todo:
            res = _measured(spark, lambda n=name: QUERY_FNS[n](spark, sf_dir))
            out[name] = res
            r0 = res["runs"][0]
            print(
                f"[extra] {name}: {[r['sec'] for r in res['runs']]} "
                f"(run1 build {r0['build_sec']}s, exec run {r0['executor_run_s']}s, "
                f"{r0['stages']} stages / {r0['tasks']} tasks, "
                f"shuffle {r0['shuffle_write_mb']} MB)",
                file=sys.stderr, flush=True,
            )

    spark.stop()
    os.makedirs("BENCH", exist_ok=True)
    path = f"BENCH/r06_probe_{label}.json"
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps({"written": path, "host_probe": out["host_probe"]}))


if __name__ == "__main__":
    main()
