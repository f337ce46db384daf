"""Streaming monitor mode (W1-W7): file-source micro-batches produce the
same outputs as batch mode, with exactly-once per doc across triggers."""

from __future__ import annotations

import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pmocr_spark import checkpoint as ckpt
from pmocr_spark import corpus, streaming


@pytest.fixture()
def dirs():
    base = tempfile.mkdtemp(prefix="pmocr_stream_")
    d = {
        k: os.path.join(base, k)
        for k in ("landing", "output", "stream_ckpt", "lineage", "alerts")
    }
    os.makedirs(d["landing"])
    yield d
    shutil.rmtree(base, ignore_errors=True)


def _read_epochs(spark, path):
    """Streaming sinks write epoch-keyed subdirs (idempotent overwrite)."""
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


def test_monitor_processes_drops(spark, dirs, tmp_path):
    """Drop files into the landing dir across two triggers (the reference's
    service E2E: drop files, wait, count outputs — run_tests.sh:316-355);
    every doc processed exactly once, failed docs quarantined, alert rows
    (S7) only for epochs that had failures."""
    docs_t, blobs_t = corpus.generate(n_docs=60, seed=7)
    expected = corpus.reference_convert(docs_t, blobs_t)

    pq.write_table(blobs_t, f"{tmp_path}/blobs.parquet")
    media_blobs = spark.read.parquet(f"{tmp_path}/blobs.parquet")

    def run_monitor():
        q = streaming.monitor(
            spark,
            dirs["landing"],
            media_blobs,
            dirs["output"],
            dirs["stream_ckpt"],
            dirs["lineage"],
            trigger={"availableNow": True},
            alerts_dir=dirs["alerts"],
        )
        q.awaitTermination(120)

    # first drop: docs 0-29 (incl. nothing poisoned), second drop: 30-59
    # (incl. poison doc-0000053) — two micro-batches
    pq.write_table(docs_t.slice(0, 30), f"{dirs['landing']}/drop1.parquet")
    run_monitor()
    pq.write_table(docs_t.slice(30, 30), f"{dirs['landing']}/drop2.parquet")
    run_monitor()

    out = _read_epochs(spark, dirs["output"])
    rows = {r["doc_id"]: r.asDict(recursive=True) for r in out.collect()}
    assert len(rows) == 60, "every doc exactly once across both triggers"
    for doc_id, exp in expected.items():
        got = rows[doc_id]
        got_spans = [(s["order"], s["kind"], s["text"], s["media_ref"]) for s in got["spans"]]
        assert got_spans == exp["spans"], doc_id
        assert got["status"] == exp["status"], doc_id

    lineage = ckpt.read_checkpoint(spark, dirs["lineage"])
    assert lineage.select("doc_id").distinct().count() == 60

    # S7: exactly the epochs with failed docs alerted (SendAlert analog)
    n_failed = sum(1 for e in expected.values() if e["status"] == "failed")
    alerts = _read_epochs(spark, dirs["alerts"]).collect()
    assert sum(a["failed_docs"] for a in alerts) == n_failed
    assert all(a["failed_docs"] >= 1 and a["first_error"] for a in alerts)

    # crash-replay idempotency: wipe ONLY the stream offsets (the "crash")
    # and re-run — the file source replays everything as one epoch; the
    # epoch-keyed overwrite + lineage anti-join must leave the output
    # byte-identical (no duplicate doc rows)
    shutil.rmtree(dirs["stream_ckpt"])
    run_monitor()
    out2 = _read_epochs(spark, dirs["output"])
    assert out2.count() == 60
    assert out2.select("doc_id").distinct().count() == 60


def test_streaming_retry_on_epoch_clock(spark, dirs, tmp_path):
    """P2 in service mode: a failed doc RE-DROPPED as new input is
    postponed while inside the retry backoff on the deterministic epoch
    clock (job_ts + epoch*step), then readmitted and converted once the
    backoff has elapsed — no wall clock anywhere."""
    import pyarrow as pa

    from pmocr_spark import codecs, corpus

    doc = pa.Table.from_pylist(
        [
            {
                "doc_id": "retry-a",
                "spans": [{"kind": "tif", "text": None, "media_ref": "b:ra", "offset": 0}],
            }
        ],
        schema=corpus.DOCUMENTS_SCHEMA,
    )

    def blobs_table(fixed: bool):
        content = (
            codecs.encode_image("recovered text", "tif", salt="b:ra")
            if fixed
            else codecs.encode_corrupt("b:ra")
        )
        p = f"{tmp_path}/blobs_{fixed}.parquet"
        pq.write_table(
            pa.Table.from_pylist(
                [{"media_ref": "b:ra", "kind": "tif", "content": content}],
                schema=corpus.BLOBS_SCHEMA,
            ),
            p,
        )
        return spark.read.parquet(p)

    def run_epoch(drop_name: str, blobs):
        pq.write_table(doc, f"{dirs['landing']}/{drop_name}.parquet")
        q = streaming.monitor(
            spark,
            dirs["landing"],
            blobs,
            dirs["output"],
            dirs["stream_ckpt"],
            dirs["lineage"],
            trigger={"availableNow": True},
            epoch_ts_step_s=150,  # backoff 300s elapses after 2 epochs
        )
        q.awaitTermination(120)

    run_epoch("drop0", blobs_table(fixed=False))  # epoch 0: fails, rc=1
    run_epoch("drop1", blobs_table(fixed=True))   # epoch 1 (+150s): postponed
    run_epoch("drop2", blobs_table(fixed=True))   # epoch 2 (+300s): readmitted

    lineage = ckpt.read_checkpoint(spark, dirs["lineage"])
    rows = sorted(
        (r["run_id"], r["status"], r["retry_count"]) for r in lineage.collect()
    )
    assert rows == [("stream#e0", "failed", 1), ("stream#e2", "done", 1)], rows
    out = _read_epochs(spark, dirs["output"]).filter("status = 'done'").collect()
    assert len(out) == 1 and out[0]["txt"] == "recovered text"


def test_fresh_checkpoint_foreign_lineage_refused(spark, dirs, tmp_path):
    """Replay-safety guard: a FRESH offsets checkpoint restarts epoch ids
    at 0; against a lineage dir holding ANOTHER stream identity's epoch
    rows, monitor() must refuse (the epoch-N overwrite would destroy that
    stream's results) unless allow_lineage_takeover=True. A restart with
    the SAME run_id (true replay) stays allowed — pinned by
    test_monitor_processes_drops' wipe-offsets rerun."""
    import pyarrow as pa

    docs_t, blobs_t = corpus.generate(n_docs=6, seed=3)
    pq.write_table(blobs_t, f"{tmp_path}/blobs.parquet")
    media_blobs = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    pq.write_table(docs_t, f"{dirs['landing']}/drop.parquet")

    def run(run_id, ckpt_dir, **kw):
        q = streaming.monitor(
            spark, dirs["landing"], media_blobs, dirs["output"],
            ckpt_dir, dirs["lineage"], run_id=run_id,
            trigger={"availableNow": True}, **kw,
        )
        q.awaitTermination(120)

    run("streamA", dirs["stream_ckpt"])
    lineage = ckpt.read_checkpoint(spark, dirs["lineage"])
    assert lineage.filter(F.col("run_id") == "streamA#e0").count() == 6

    # new identity + fresh checkpoint -> refused before any write
    with pytest.raises(ValueError, match="different stream identity"):
        run("streamB", os.path.join(dirs["stream_ckpt"], "..", "fresh_ckpt"))
    # output untouched by the refused run
    assert _read_epochs(spark, dirs["output"]).count() == 6

    # explicit override proceeds (deliberate takeover)
    run(
        "streamB",
        os.path.join(dirs["stream_ckpt"], "..", "fresh_ckpt2"),
        allow_lineage_takeover=True,
    )


def test_unknown_scheme_path_raises(spark, dirs):
    """A lineage (or index) path on a scheme Hadoop cannot resolve fails
    loudly at monitor() instead of reading as an empty first run."""
    blobs = spark.createDataFrame([], "media_ref string, content binary")
    for kw in ({"lineage_dir": "nosuchfs://h/lineage"},
               {"lineage_dir": dirs["lineage"], "dedup_index_dir": "nosuchfs://h/idx"}):
        with pytest.raises(Exception, match="nosuchfs"):
            streaming.monitor(
                spark, dirs["landing"], blobs, dirs["output"], dirs["stream_ckpt"],
                trigger={"availableNow": True}, **kw,
            )


def test_alert_row_has_docs_total(spark, dirs, tmp_path):
    """S7 alert contract: (run_id, epoch_id, failed_docs, docs,
    first_error, ts) — `docs` is the batch's total doc count."""
    import pyarrow as pa

    from pmocr_spark import codecs

    rows = [
        {"doc_id": "ok-1",
         "spans": [{"kind": "text", "text": "fine", "media_ref": None, "offset": 0}]},
        {"doc_id": "bad-1",
         "spans": [{"kind": "tif", "text": None, "media_ref": "b:x", "offset": 0}]},
    ]
    pq.write_table(
        pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
        f"{dirs['landing']}/drop.parquet",
    )
    pq.write_table(
        pa.Table.from_pylist(
            [{"media_ref": "b:x", "kind": "tif", "content": codecs.encode_corrupt("b:x")}],
            schema=corpus.BLOBS_SCHEMA,
        ),
        f"{tmp_path}/blobs.parquet",
    )
    q = streaming.monitor(
        spark, dirs["landing"], spark.read.parquet(f"{tmp_path}/blobs.parquet"),
        dirs["output"], dirs["stream_ckpt"], dirs["lineage"],
        trigger={"availableNow": True}, alerts_dir=dirs["alerts"],
    )
    q.awaitTermination(120)
    alerts = _read_epochs(spark, dirs["alerts"]).collect()
    assert len(alerts) == 1
    a = alerts[0].asDict()
    assert set(a) == {"run_id", "epoch_id", "failed_docs", "docs", "first_error", "ts"}
    assert a["failed_docs"] == 1 and a["docs"] == 2 and a["first_error"]


def test_per_dir_monitors_independent(spark, dirs, tmp_path):
    """W7 exact parity (pmocr.sh:2519-2537): two landing dirs, each
    hard-wired to its own target via --monitor, running as two
    independent streaming queries in one SparkSession — independent
    lineage/output namespaces, per-dir target columns, and exactly-once
    per dir across a second trigger."""
    import pyarrow as pa

    from pmocr_spark import cli

    docs_t, blobs_t = corpus.generate(n_docs=20, seed=13)
    pq.write_table(blobs_t, f"{tmp_path}/blobs.parquet")
    blobs = spark.read.parquet(f"{tmp_path}/blobs.parquet")

    d_txt = os.path.join(dirs["landing"], "txtland")
    d_csv = os.path.join(dirs["landing"], "csvland")
    os.makedirs(d_txt)
    os.makedirs(d_csv)
    pq.write_table(docs_t.slice(0, 12), f"{d_txt}/drop.parquet")
    pq.write_table(docs_t.slice(12, 8), f"{d_csv}/drop.parquet")

    args = cli.parse_args(
        ["--service",
         "--monitor", f"{d_txt}=txt", "--monitor", f"{d_csv}=csv",
         "--blobs", f"{tmp_path}/blobs.parquet",
         "--output", dirs["output"], "--lineage", dirs["lineage"],
         "--stream-checkpoint", dirs["stream_ckpt"]]
    )

    def run_all():
        qs = cli.launch_monitors(
            spark, args, blobs, "2024-01-01 00:00:00", "_OCR",
            trigger={"availableNow": True},
        )
        for _name, q in qs:
            q.awaitTermination(120)

    run_all()

    out_txt = _read_epochs(spark, f"{dirs['output']}/txtland")
    out_csv = _read_epochs(spark, f"{dirs['output']}/csvland")
    assert out_txt.count() == 12 and out_csv.count() == 8
    # per-dir target wiring: txt monitor emits txt (no csv) and vice versa
    assert "txt" in out_txt.columns and "csv" not in out_txt.columns
    assert "csv" in out_csv.columns and "txt" not in out_csv.columns
    # independent lineage namespaces, disjoint docs
    lin_txt = ckpt.read_checkpoint(spark, f"{dirs['lineage']}/txtland")
    lin_csv = ckpt.read_checkpoint(spark, f"{dirs['lineage']}/csvland")
    ids_txt = {r["doc_id"] for r in lin_txt.select("doc_id").collect()}
    ids_csv = {r["doc_id"] for r in lin_csv.select("doc_id").collect()}
    assert len(ids_txt) == 12 and len(ids_csv) == 8 and not (ids_txt & ids_csv)

    # second trigger with one new doc per dir: exactly-once per dir
    extra = pa.Table.from_pylist(
        [{"doc_id": "extra-txt",
          "spans": [{"kind": "text", "text": "late txt", "media_ref": None, "offset": 0}]}],
        schema=corpus.DOCUMENTS_SCHEMA,
    )
    pq.write_table(extra, f"{d_txt}/drop2.parquet")
    run_all()
    assert _read_epochs(spark, f"{dirs['output']}/txtland").count() == 13
    assert _read_epochs(spark, f"{dirs['output']}/csvland").count() == 8


def test_alert_docs_counts_full_batch_and_metrics_report(spark, dirs, tmp_path):
    """(a) The S7 alert's `docs` field is the batch's TOTAL drop count —
    a re-dropped doc excluded by the resume filter still counts, so
    '1 of 2 dropped failed' never reads as '100% of a 1-doc batch'.
    (b) metrics_dir writes the per-partition skew report every epoch."""
    import pyarrow as pa

    from pmocr_spark import codecs

    def doc(doc_id, ref):
        return {"doc_id": doc_id,
                "spans": [{"kind": "tif", "text": None, "media_ref": ref, "offset": 0}]}

    blobs = [
        {"media_ref": "b:p1", "kind": "tif", "content": codecs.encode_corrupt("b:p1")},
        {"media_ref": "b:p2", "kind": "tif", "content": codecs.encode_corrupt("b:p2")},
    ]
    pq.write_table(pa.Table.from_pylist(blobs, schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    metrics = str(tmp_path / "metrics")

    def run(drop_name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                       f"{dirs['landing']}/{drop_name}.parquet")
        q = streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True},
            alerts_dir=dirs["alerts"], metrics_dir=metrics,
        )
        q.awaitTermination(120)

    # epoch 0: poison p1 fails -> alert docs=1, failed=1
    run("drop0", [doc("poison-1", "b:p1")])
    # epoch 1 (+30s, inside backoff): re-drop poison-1 (postponed by the
    # resume filter) + fresh poison-2 (fails) -> docs=2, failed=1
    run("drop1", [doc("poison-1", "b:p1"), doc("poison-2", "b:p2")])

    alerts = {r["epoch_id"]: r.asDict() for r in _read_epochs(spark, dirs["alerts"]).collect()}
    assert alerts[0]["docs"] == 1 and alerts[0]["failed_docs"] == 1
    assert alerts[1]["docs"] == 2 and alerts[1]["failed_docs"] == 1, alerts[1]
    # (b) the skew report exists and covers the full lineage
    m = spark.read.parquet(metrics).collect()
    assert sum(r["docs"] for r in m) == 2  # poison-1 (e0) + poison-2 (e1)
    assert all(r["failed_docs"] >= 0 for r in m)


@pytest.mark.parametrize("n_dirs", [1, 2])
def test_once_vs_processing_time_parity(spark, tmp_path, n_dirs):
    """Round-3 verdict item #8: a --once (AvailableNow) reconciliation
    pass must emit the SAME per-epoch alert rows, lineage verdicts and
    partition-metrics totals as the resident ProcessingTime poller, per
    monitored dir — the cron-able W4 pass is a drop-in for the W2
    poller, not a different pipeline. Parametrized over 1 monitored dir
    (--input) and 2 (--monitor), both through the real CLI wiring
    (launch_monitors)."""
    import pyarrow as pa

    from pmocr_spark import cli, codecs

    def doc(doc_id, ref=None, text=None):
        kind = "text" if text is not None else "tif"
        return {"doc_id": doc_id,
                "spans": [{"kind": kind, "text": text, "media_ref": ref, "offset": 0}]}

    blobs_rows = [
        {"media_ref": "b:ok", "kind": "tif", "content": codecs.encode_image("fine", "tiff", salt="x")},
        {"media_ref": "b:poison", "kind": "tif", "content": codecs.encode_corrupt("b:poison")},
    ]
    pq.write_table(pa.Table.from_pylist(blobs_rows, schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    blobs = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    drop_rows = [doc("ok-1", ref="b:ok"), doc("bad-1", ref="b:poison"),
                 doc("txt-1", text="plain span")]

    def run(mode):
        base = tmp_path / mode
        lands = []
        for i in range(n_dirs):
            land = base / f"land{i}"
            os.makedirs(land)
            pq.write_table(pa.Table.from_pylist(drop_rows, schema=corpus.DOCUMENTS_SCHEMA),
                           f"{land}/drop.parquet")
            lands.append(str(land))
        argv = ["--service", "--blobs", f"{tmp_path}/blobs.parquet",
                "--output", str(base / "out"), "--lineage", str(base / "lin"),
                "--stream-checkpoint", str(base / "ck"),
                "--alerts", str(base / "alerts"), "--metrics", str(base / "metrics")]
        if n_dirs == 1:
            argv += ["--input", lands[0]]
        else:
            argv += [f"--monitor={lands[0]}=txt,csv", f"--monitor={lands[1]}=txt,csv"]
        args = cli.parse_args(argv)
        trigger = ({"availableNow": True} if mode == "once"
                   else {"processingTime": "1 second"})
        qs = cli.launch_monitors(spark, args, blobs, "2024-01-01 00:00:00", "_OCR",
                                 trigger=trigger)
        if mode == "once":
            for _name, q in qs:
                q.awaitTermination(120)
        else:
            import time

            # wait for batch 0 to COMMIT (lastProgress is only published
            # after the whole foreachBatch epoch, metrics write included)
            # before stopping: polling an intermediate output dir raced
            # q.stop() against the tail of the epoch — on a slow host the
            # interrupt landed inside the metrics parquet write and
            # killed the stream thread instead of stopping it cleanly
            deadline = time.time() + 120
            while time.time() < deadline and not all(
                q.lastProgress is not None and q.lastProgress["batchId"] >= 0
                for _name, q in qs
            ):
                time.sleep(1)
            for _name, q in qs:
                q.stop()
        sub = lambda base_, n: f"{base_}/{n}" if n else str(base_)  # noqa: E731
        out = {}
        for name in ([None] if n_dirs == 1 else [os.path.basename(d) for d in lands]):
            n = name or ""
            lin = ckpt.read_checkpoint(spark, sub(base / "lin", n))
            out[n or "solo", "lineage"] = sorted(
                (r["doc_id"], r["status"], r["error"], r["retry_count"])
                for r in lin.collect()
            )
            alerts = _read_epochs(spark, sub(base / "alerts", n))
            out[n or "solo", "alerts"] = sorted(
                (r["epoch_id"], r["docs"], r["failed_docs"], r["first_error"])
                for r in alerts.collect()
            )
            m = spark.read.parquet(sub(base / "metrics", n)).collect()
            out[n or "solo", "metrics"] = (
                sum(r["docs"] for r in m),
                sum(r["spans"] for r in m),
                sum(r["failed_docs"] for r in m),
            )
        return out

    once, proc = run("once"), run("proc")
    assert once == proc, f"\nonce: {once}\nproc: {proc}"
    # and the content is the expected verdicts, not vacuous equality
    for (_n, kind), v in once.items():
        if kind == "lineage":
            assert {d: s for d, s, _e, _rc in v} == {
                "ok-1": "done", "bad-1": "failed", "txt-1": "done"
            }
        elif kind == "alerts":
            assert [(e, d, f) for e, d, f, _err in v] == [(0, 3, 1)]


def test_cross_epoch_dedup_index(spark, dirs, tmp_path):
    """Round-4: --dedup-index in service mode. Epoch 0 establishes the
    index from its extracted docs; epoch 1 drops a near-copy of an
    epoch-0 doc plus a fresh doc — the near-copy gets dup_of pointing
    at the epoch-0 keeper, the fresh doc stays null, and the verdicts
    are byte-identical on a replay of the same epoch (band rows carry
    the epoch id; the probe reads strictly-earlier epochs only)."""
    import pyarrow as pa

    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    A2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    B = "completely unrelated text about cooking pasta with garlic and olive oil"
    C = "telescopes gather photons from distant galaxies revealing ancient light"

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    idx_dir = str(tmp_path / "dedup_idx")

    def run(drop_name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                       f"{dirs['landing']}/{drop_name}.parquet")
        q = streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True},
            dedup_index_dir=idx_dir,
        )
        q.awaitTermination(120)

    run("drop0", [doc("e0-a", A), doc("e0-b", B)])
    e0 = {r["doc_id"]: r["dup_of"]
          for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert e0 == {"e0-a": None, "e0-b": None}

    run("drop1", [doc("e1-dup", A2), doc("e1-new", C)])
    e1 = {r["doc_id"]: r["dup_of"]
          for r in spark.read.parquet(f"{dirs['output']}/epoch-1").collect()}
    assert e1 == {"e1-dup": "e0-a", "e1-new": None}

    # the index accumulated both epochs' keeper bands (dup doc excluded)
    from pmocr_spark.operators import dedup_index as di

    idx, params = di.read_index(spark, idx_dir)
    assert set(r["doc_id"] for r in idx.select("doc_id").distinct().collect()) == {
        "e0-a", "e0-b", "e1-new"
    }
    assert params["n_hashes"] == di.N_MINHASH  # sidecar written on first epoch
    gens = ckpt.open_artifact(spark, idx_dir, "dedup_index")[1]["bands"]
    assert {streaming._generation(g) for g in gens} == {"epoch-0", "epoch-1"}
    # snapshot NOW: the replay below rewrites epoch-0's part files, so
    # this pre-replay DataFrame's file listing goes stale by design
    idx_count = idx.count()

    # replay of epoch 1 (wiped offsets, same input, same run_id) is
    # byte-identical: same dup verdicts, no duplicated band rows
    import shutil as _sh

    _sh.rmtree(dirs["stream_ckpt"])
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True}, dedup_index_dir=idx_dir,
    )
    q.awaitTermination(120)
    e0r = {r["doc_id"]: r["dup_of"]
           for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert e0r == e0
    idx2, _ = di.read_index(spark, idx_dir)
    assert idx2.count() == idx_count  # overwrite, not append-duplicate


def test_corrupt_dedup_index_fails_loud(spark, dirs, tmp_path):
    """An EXISTING but unreadable index must fail the epoch loudly — the
    old bare-except degraded any read failure into 'first epoch': zero
    dup verdicts and a sidecar overwritten with defaults, masking the
    corruption forever."""
    import pyarrow as pa

    from pmocr_spark.operators import dedup_index as di

    idx_dir = tmp_path / "bad_idx"
    di.write_index(di.build_index(spark.createDataFrame(
        [("s", "some seed text here")], "doc_id string, text string")), str(idx_dir))
    (bands,) = idx_dir.glob("gen-*/bands")
    shutil.rmtree(bands)
    bands.mkdir()
    (bands / "part-00000.parquet").write_bytes(b"this is not a parquet file")

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": "d1",
          "spans": [{"kind": "text", "text": "hello world", "media_ref": None,
                     "offset": 0}]}],
        schema=corpus.DOCUMENTS_SCHEMA), f"{dirs['landing']}/drop.parquet")
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True},
        dedup_index_dir=str(idx_dir),
    )
    with pytest.raises(Exception, match="(?i)parquet|magic|footer|corrupt"):
        q.awaitTermination(120)
    # and the sidecar was NOT silently replaced with defaults
    assert [p.name for p in idx_dir.glob("_dedup_index_meta*")] == ["_dedup_index_meta.1.json"]


def test_seeded_flat_index_survives_epoch_accumulation(spark, dirs, tmp_path):
    """A CLI-built index (one gen-N generation) seeding the service-mode
    dedup dir: once the stream adds its epoch-N generations, the seeded
    rows must stay visible to every later epoch's probe — a near-recrawl
    of a seeded doc is still flagged. The maintenance merge must
    likewise append fresh bands to the accumulated index as one more
    generation, leaving the epoch generations in place."""
    import pyarrow as pa

    from pmocr_spark.operators import dedup_index as di

    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    A2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    B = "completely unrelated text about cooking pasta with garlic and olive oil"
    C = "telescopes gather photons from distant galaxies revealing ancient light"
    D = "volcanic islands rise slowly from the ocean floor over countless ages"

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    idx_dir = str(tmp_path / "seeded_idx")

    # seed exactly like --build-dedup-index: flat table + params sidecar
    seed = spark.createDataFrame([("s-a", A), ("s-b", B)], "doc_id string, text string")
    di.write_index(di.build_index(seed, max_bucket=None), idx_dir)

    def run(drop_name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                       f"{dirs['landing']}/{drop_name}.parquet")
        q = streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True},
            dedup_index_dir=idx_dir,
        )
        q.awaitTermination(120)

    # epoch 0 (flat-only layout): unrelated doc, no dup; adds epoch-0 subdir
    run("drop0", [doc("e0-x", C)])
    e0 = {r["doc_id"]: r["dup_of"]
          for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert e0 == {"e0-x": None}

    # epoch 1 (MIXED schema now): near-copy of the SEEDED doc is flagged
    run("drop1", [doc("e1-dup", A2)])
    e1 = {r["doc_id"]: r["dup_of"]
          for r in spark.read.parquet(f"{dirs['output']}/epoch-1").collect()}
    assert e1 == {"e1-dup": "s-a"}

    # the seed generation next to one generation per epoch (epoch 1's
    # is empty: its only doc was a dup, so it had no keeper bands)
    def generations():
        gens = ckpt.open_artifact(spark, idx_dir, "dedup_index")[1]["bands"]
        return [streaming._generation(g) for g in gens]

    assert generations() == ["gen-1", "epoch-0", "epoch-1"]
    idx, params = di.read_index(spark, idx_dir)
    assert "epoch" not in idx.columns
    ids = {r["doc_id"] for r in idx.select("doc_id").distinct().collect()}
    assert ids == {"s-a", "s-b", "e0-x"}

    # maintenance merge: fresh bands appended as one more generation
    from pmocr_spark import cli

    spark.createDataFrame([("m-c", D)], "doc_id string, text string").write.parquet(
        str(tmp_path / "more"))
    cli.main(["--merge-dedup-index", idx_dir, "--input", str(tmp_path / "more"),
              "--master", "local[4]"])
    assert generations() == ["gen-1", "epoch-0", "epoch-1", "gen-4"]
    merged = di.read_index(spark, idx_dir)[0]
    assert merged.filter(merged.doc_id == "m-c").count() > 0


def test_dedup_index_per_monitor_namespacing(spark, dirs, tmp_path):
    """--dedup-index with --monitor: each monitored dir gets its OWN
    index namespace (like output/lineage/alerts) — a doc that dups an
    epoch-0 doc of monitor A is flagged in A but a copy landing in
    monitor B (whose index never saw it) is not."""
    import pyarrow as pa

    from pmocr_spark import cli

    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    A2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    blobs = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    d_a = os.path.join(dirs["landing"], "ma")
    d_b = os.path.join(dirs["landing"], "mb")
    os.makedirs(d_a)
    os.makedirs(d_b)
    idx_base = str(tmp_path / "didx")

    args = cli.parse_args(
        ["--service",
         "--monitor", f"{d_a}=txt", "--monitor", f"{d_b}=txt",
         "--blobs", f"{tmp_path}/blobs.parquet",
         "--output", dirs["output"], "--lineage", dirs["lineage"],
         "--stream-checkpoint", dirs["stream_ckpt"],
         "--dedup-index", idx_base]
    )

    def run_all():
        qs = cli.launch_monitors(
            spark, args, blobs, "2024-01-01 00:00:00", "_OCR",
            trigger={"availableNow": True},
        )
        for _name, q in qs:
            q.awaitTermination(120)

    # epoch 0: A's corpus gets the original; B gets something unrelated
    pq.write_table(pa.Table.from_pylist([doc("a-orig", A)], schema=corpus.DOCUMENTS_SCHEMA),
                   f"{d_a}/drop0.parquet")
    pq.write_table(pa.Table.from_pylist(
        [doc("b-other", "completely unrelated text about cooking pasta tonight")],
        schema=corpus.DOCUMENTS_SCHEMA), f"{d_b}/drop0.parquet")
    run_all()
    # epoch 1: the SAME near-copy lands in both monitors
    pq.write_table(pa.Table.from_pylist([doc("a-dup", A2)], schema=corpus.DOCUMENTS_SCHEMA),
                   f"{d_a}/drop1.parquet")
    pq.write_table(pa.Table.from_pylist([doc("b-dup", A2)], schema=corpus.DOCUMENTS_SCHEMA),
                   f"{d_b}/drop1.parquet")
    run_all()

    out_a = {r["doc_id"]: r["dup_of"]
             for r in _read_epochs(spark, f"{dirs['output']}/ma").collect()}
    out_b = {r["doc_id"]: r["dup_of"]
             for r in _read_epochs(spark, f"{dirs['output']}/mb").collect()}
    assert out_a["a-dup"] == "a-orig"      # flagged in A's namespace
    assert out_b["b-dup"] is None          # B's index never saw A
    assert os.path.isdir(f"{idx_base}/ma") and os.path.isdir(f"{idx_base}/mb")


def test_cross_epoch_substring_dedup_service(spark, dirs, tmp_path):
    """--dedup-substrings-index in service mode: epoch 1's extracted txt
    loses the >= k-word span first seen in epoch 0 (txt_clean column;
    txt itself stays the exact extraction), fresh docs pass through, and
    the gram index accumulates epoch-keyed rows with its k sidecar."""
    import pyarrow as pa

    from pmocr_spark import checkpoint as ckpt
    from pmocr_spark.operators.substring_dedup import DEFAULT_K

    span = " ".join(f"s{i}" for i in range(DEFAULT_K))

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    idx_dir = str(tmp_path / "gram_idx")

    def run(drop_name, rows):
        pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                       f"{dirs['landing']}/{drop_name}.parquet")
        q = streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True},
            substr_index_dir=idx_dir,
        )
        q.awaitTermination(120)

    run("drop0", [doc("e0-a", f"{span} tail0 tail1")])
    e0 = {r["doc_id"]: r for r in
          spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert e0["e0-a"]["words_removed"] == 0
    assert e0["e0-a"]["txt_clean"] == f"{span} tail0 tail1"

    run("drop1", [doc("e1-re", f"head0 head1 {span}"), doc("e1-new", "c0 c1 c2 c3")])
    e1 = {r["doc_id"]: r for r in
          spark.read.parquet(f"{dirs['output']}/epoch-1").collect()}
    assert e1["e1-re"]["txt"] == f"head0 head1 {span}"  # extraction untouched
    assert e1["e1-re"]["txt_clean"] == "head0 head1"
    assert e1["e1-re"]["words_removed"] == DEFAULT_K
    assert e1["e1-new"]["txt_clean"] == "c0 c1 c2 c3"
    assert e1["e1-new"]["words_removed"] == 0

    meta, paths = ckpt.open_artifact(spark, idx_dir, "substr_index")
    assert meta == {"k": DEFAULT_K}
    assert [streaming._generation(g) for g in paths["grams"]] == ["epoch-0", "epoch-1"]


def test_epoch_dedup_stores_uncapped_bands(spark, tmp_path):
    """Cap-as-policy in the STREAMING hook too (review finding, round 4):
    a boilerplate flood bigger than max_bucket must still land its band
    rows in the persisted epoch dir — the cap applies transiently to the
    probe view, never to stored rows — so a later compaction equals a
    one-shot build over the union instead of having lost the flood."""
    from pmocr_spark import streaming as st
    from pmocr_spark.operators import dedup_index as di

    idx = str(tmp_path / "idx")
    flood_text = "identical boilerplate sentence repeated across the whole flood batch"
    docs = [(f"d-{i:03d}", flood_text, "done") for i in range(4)] + [
        ("d-x", "one genuinely unique document about something else entirely", "done")
    ]
    results = spark.createDataFrame(docs, "doc_id string, txt string, status string")

    # epoch 0 seeds the index; sidecar then pins a cap SMALLER than the
    # flood (the cap is policy, recorded in the sidecar)
    st._epoch_dedup(spark, results, idx, epoch_id=0)
    ckpt.commit_artifact(spark, idx, "dedup_index", {
        "n_hashes": di.N_MINHASH, "band_size": di.BAND_SIZE, "max_bucket": 3}, mode="append")
    # epoch 1 re-drops the same docs. With cap 3 < flood 4 the capped
    # PROBE VIEW suppresses the flood's matches (by policy), so all 5
    # docs are keepers — and their band rows must ALL be stored: the
    # pre-fix code built new_bands WITH the cap and would have written
    # only d-x's bands to epoch-1, losing the flood irreversibly.
    st._epoch_dedup(spark, results, idx, epoch_id=1)
    stored = spark.read.parquet(f"{idx}/epoch-1/bands")
    stored_ids = {r["doc_id"] for r in stored.select("doc_id").distinct().collect()}
    assert stored_ids == {f"d-{i:03d}" for i in range(4)} | {"d-x"}
    max_bucket_sz = (
        stored.groupBy("band", "key").count().agg({"count": "max"}).collect()[0][0]
    )
    assert max_bucket_sz >= 4  # a bucket BIGGER than the cap survived storage

    # raise the cap (policy change, no rebuild needed — the rows are all
    # there): the flood now flags against the stored epochs, proving
    # nothing was lost; the unique doc only ever matches itself -> clean
    ckpt.commit_artifact(spark, idx, "dedup_index", {
        "n_hashes": di.N_MINHASH, "band_size": di.BAND_SIZE, "max_bucket": 10}, mode="append")
    dup = st._epoch_dedup(spark, results, idx, epoch_id=2)
    flagged = {r["doc_id"] for r in dup.collect()}
    assert {f"d-{i:03d}" for i in range(4)} <= flagged and "d-x" not in flagged


def test_index_dir_guard_on_fresh_checkpoint_restart(spark, dirs, tmp_path):
    """A stream restarted on a FRESH offsets checkpoint + fresh lineage
    (the lineage guard's own advice) but a KEPT --dedup-index dir would
    restart epoch ids at 0: the probe's epoch<E filter hides ALL prior
    history and the epoch-0 overwrite destroys the prior run's rows.
    monitor must refuse; --compact-dedup-index (which flattens history
    to always-visible seed rows) is the sanctioned recovery path
    (review finding, round 4)."""
    import pyarrow as pa

    from pmocr_spark import cli

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    idx_dir = str(tmp_path / "kept_idx")

    pq.write_table(pa.Table.from_pylist(
        [doc("a", "the quick brown fox jumps over the lazy dog near the river today")],
        schema=corpus.DOCUMENTS_SCHEMA), f"{dirs['landing']}/d0.parquet")
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True}, dedup_index_dir=idx_dir,
    )
    q.awaitTermination(120)

    # fresh checkpoint + fresh lineage/output, kept index dir -> refused
    import shutil as _sh
    for k in ("stream_ckpt", "lineage", "output"):
        _sh.rmtree(dirs[k], ignore_errors=True)
    with pytest.raises(ValueError, match="epoch-keyed subdirs"):
        streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True}, dedup_index_dir=idx_dir,
        )

    # sanctioned recovery: compact (flattens to seed rows), then restart
    cli.main(["--compact-dedup-index", idx_dir, "--master", "local[4]"])
    q2 = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True}, dedup_index_dir=idx_dir,
    )
    q2.awaitTermination(120)
    # the re-crawled doc is flagged against the seeded (flattened) history
    out = {r["doc_id"]: r["dup_of"]
           for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert out == {"a": None} or out["a"] is None  # self-match excluded -> clean


def test_merged_stream_index_still_guards_fresh_checkpoint_restart(spark, dirs, tmp_path):
    """--merge-dedup-index over a stream-accumulated index appends one
    generation and leaves the epoch-N generations in place, so a restart
    on a fresh offsets checkpoint is still refused until
    --compact-dedup-index, after which the restarted epoch 0 sees the
    whole history. A merge that folded the history into one generation
    whose rows kept their epoch values let that restart through, and the
    restarted epoch 0 then hid every merged row: dup_of came out None."""
    import pyarrow as pa

    from pmocr_spark import cli

    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    A2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    C = "telescopes gather photons from distant galaxies revealing ancient light"

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    def run():
        q = streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True}, dedup_index_dir=idx_dir,
        )
        q.awaitTermination(120)

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    idx_dir = str(tmp_path / "idx")
    pq.write_table(pa.Table.from_pylist([doc("a", A)], schema=corpus.DOCUMENTS_SCHEMA),
                   f"{dirs['landing']}/d0.parquet")
    run()

    spark.createDataFrame([("m", C)], "doc_id string, text string").write.parquet(
        str(tmp_path / "more"))
    cli.main(["--merge-dedup-index", idx_dir, "--input", str(tmp_path / "more"),
              "--master", "local[4]"])

    for k in ("stream_ckpt", "lineage", "output"):
        shutil.rmtree(dirs[k], ignore_errors=True)
    with pytest.raises(ValueError, match="epoch-keyed subdirs"):
        run()

    cli.main(["--compact-dedup-index", idx_dir, "--master", "local[4]"])
    pq.write_table(pa.Table.from_pylist([doc("a2", A2)], schema=corpus.DOCUMENTS_SCHEMA),
                   f"{dirs['landing']}/d1.parquet")
    run()
    out = {r["doc_id"]: r["dup_of"]
           for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert out == {"a": None, "a2": "a"}


def test_epoch_column_index_stays_visible_to_a_fresh_stream(spark, dirs, tmp_path):
    """An index written while rows still carried an `epoch` column — one
    flat generation with numeric epochs, as --merge-dedup-index wrote
    it — reads like any gen-N generation: the column is ignored, so a
    fresh stream's epoch 0 flags a near-copy of an indexed doc, and no
    generation written since (the epoch's own, a compaction) carries
    the column."""
    import pyarrow as pa

    from pmocr_spark import cli
    from pmocr_spark.operators import dedup_index as di

    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    A2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    B = "completely unrelated text about cooking pasta with garlic and olive oil"
    C = "telescopes gather photons from distant galaxies revealing ancient light"

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    idx_dir = str(tmp_path / "idx")
    seed = spark.createDataFrame([("s-a", A), ("s-b", B)], "doc_id string, text string")
    bands = di.build_index(seed, max_bucket=None).withColumn(
        "epoch", F.when(F.col("doc_id") == "s-a", 0).otherwise(1).cast("long"))
    params = {"n_hashes": di.N_MINHASH, "band_size": di.BAND_SIZE,
              "max_bucket": di.MAX_BAND_BUCKET}
    ckpt.commit_artifact(spark, idx_dir, "dedup_index", params, {"bands": bands},
                         mode="overwrite")

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    pq.write_table(
        pa.Table.from_pylist([doc("e0-dup", A2), doc("e0-new", C)],
                             schema=corpus.DOCUMENTS_SCHEMA),
        f"{dirs['landing']}/d0.parquet")
    q = streaming.monitor(
        spark, dirs["landing"], spark.read.parquet(f"{tmp_path}/blobs.parquet"),
        dirs["output"], dirs["stream_ckpt"], dirs["lineage"],
        trigger={"availableNow": True}, dedup_index_dir=idx_dir,
    )
    q.awaitTermination(120)
    out = {r["doc_id"]: r["dup_of"]
           for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert out == {"e0-dup": "s-a", "e0-new": None}
    assert "epoch" not in spark.read.parquet(f"{idx_dir}/epoch-0/bands").columns

    cli.main(["--compact-dedup-index", idx_dir, "--master", "local[4]"])
    (gen,) = ckpt.open_artifact(spark, idx_dir, "dedup_index")[1]["bands"]
    compacted = spark.read.parquet(gen)
    assert "epoch" not in compacted.columns
    assert {r["doc_id"] for r in compacted.select("doc_id").distinct().collect()} == {
        "s-a", "s-b", "e0-new"}


@pytest.mark.parametrize("compact", [False, True])
def test_unified_index_maintenance_e2e(spark, dirs, tmp_path, compact):
    """Round-5 verdict item #6: ONE service lifecycle driving BOTH
    persisted indexes (--dedup-index + --dedup-substrings-index) plus
    the lineage checkpoint across two restarts, with and without a
    compaction of each index between them. Expected verdicts are stated
    literally and are IDENTICAL for both parameters — compaction (flat,
    epoch-less layouts) must be invisible to every later probe."""
    import pyarrow as pa

    from pmocr_spark import cli
    from pmocr_spark.operators.substring_dedup import DEFAULT_K

    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    A2 = "the quick brown fox jumps over the lazy dog near the river bank tonight"
    A3 = "the quick brown fox jumps over the lazy dog near the river bank sometimes"
    B = "completely unrelated text about cooking pasta with garlic and olive oil"
    C = "telescopes gather photons from distant galaxies revealing ancient light"
    D = "volcanic rocks preserve magnetic alignments recording ancient field flips"
    span = " ".join(f"s{i}" for i in range(DEFAULT_K))

    def doc(doc_id, text):
        return {"doc_id": doc_id,
                "spans": [{"kind": "text", "text": text, "media_ref": None, "offset": 0}]}

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    dd_idx = str(tmp_path / "dedup_idx")
    gr_idx = str(tmp_path / "gram_idx")

    def run(drop_name, rows):
        # each call is a RESTART: a fresh monitor over the same
        # checkpoint/lineage/index state, resuming where the last left off
        pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                       f"{dirs['landing']}/{drop_name}.parquet")
        q = streaming.monitor(
            spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
            dirs["lineage"], trigger={"availableNow": True},
            dedup_index_dir=dd_idx, substr_index_dir=gr_idx,
        )
        q.awaitTermination(120)

    run("drop0", [doc("e0-a", A), doc("e0-b", B), doc("e0-s", f"{span} tail0 tail1")])

    if compact:
        cli.main(["--compact-dedup-index", dd_idx, "--master", "local[4]"])
        cli.main(["--compact-substr-index", gr_idx, "--master", "local[4]"])

    # restart 1: near-dup of e0-a, substring re-occurrence, fresh doc
    run("drop1", [doc("e1-dup", A2), doc("e1-re", f"head0 head1 {span}"),
                  doc("e1-new", C)])
    e1 = {r["doc_id"]: r for r in
          spark.read.parquet(f"{dirs['output']}/epoch-1").collect()}
    assert e1["e1-dup"]["dup_of"] == "e0-a"
    assert e1["e1-new"]["dup_of"] is None
    assert e1["e1-re"]["txt_clean"] == "head0 head1"
    assert e1["e1-re"]["words_removed"] == DEFAULT_K
    assert e1["e1-new"]["txt_clean"] == C and e1["e1-new"]["words_removed"] == 0

    if compact:
        cli.main(["--compact-dedup-index", dd_idx, "--master", "local[4]"])
        cli.main(["--compact-substr-index", gr_idx, "--master", "local[4]"])

    # restart 2: both index kinds must still see epoch-0 history THROUGH
    # whatever layout the (optional) compactions left behind
    run("drop2", [doc("e2-dup", A3), doc("e2-re", f"{span} z0 z1"), doc("e2-new", D)])
    e2 = {r["doc_id"]: r for r in
          spark.read.parquet(f"{dirs['output']}/epoch-2").collect()}
    assert e2["e2-dup"]["dup_of"] == "e0-a"
    assert e2["e2-re"]["txt_clean"] == "z0 z1"
    assert e2["e2-re"]["words_removed"] == DEFAULT_K
    assert e2["e2-new"]["dup_of"] is None and e2["e2-new"]["words_removed"] == 0

    # lineage saw every doc exactly once across the three runs
    lin = spark.read.option("recursiveFileLookup", "true").parquet(dirs["lineage"])
    assert lin.filter(F.col("status") == "done").count() == 9
    assert lin.select("doc_id").distinct().count() == 9


def test_audio_span_in_service_mode(spark, dirs, tmp_path):
    """Round 5: the audio route is mode-independent — a service drop
    with an interleaved text+audio doc reassembles exactly as batch
    would (monitor reuses the batch plan inside foreachBatch), and a
    corrupt audio blob quarantines instead of failing the epoch."""
    import pyarrow as pa

    from pmocr_spark import codecs

    good = codecs.encode_audio("narrated part", salt="sv1")
    blobs = pa.Table.from_pylist(
        [
            {"media_ref": "a:1", "kind": "wav", "content": good},
            {"media_ref": "a:2", "kind": "wav", "content": codecs.encode_corrupt("x")},
        ],
        schema=corpus.BLOBS_SCHEMA,
    )
    pq.write_table(blobs, f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    rows = [
        {"doc_id": "ok", "spans": [
            {"kind": "text", "text": "written part", "media_ref": None, "offset": 0},
            {"kind": "wav", "text": None, "media_ref": "a:1", "offset": 1},
        ]},
        {"doc_id": "poison", "spans": [
            {"kind": "wav", "text": None, "media_ref": "a:2", "offset": 0},
        ]},
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                   f"{dirs['landing']}/drop0.parquet")
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in
           spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert got["ok"]["status"] == "done"
    assert got["ok"]["txt"] == "written part\nnarrated part"
    assert got["poison"]["status"] == "failed"
    # the error detail rides the lineage rows (the output projection
    # carries status + targets; errors are checkpoint state)
    lin = {r["doc_id"]: r for r in
           spark.read.parquet(f"{dirs['lineage']}/epoch-0/rows").collect()}
    assert "magic" in lin["poison"]["error"]


def test_video_span_in_service_mode(spark, dirs, tmp_path):
    """Round 5 (third pass): video completes the interleaved set — a
    service drop with a text+wav+avi doc reassembles exactly as batch
    would, the held scene collapsing to one caption; a corrupt video
    blob quarantines instead of failing the epoch."""
    import pyarrow as pa

    from pmocr_spark import codecs

    wav = codecs.encode_audio("narrated part", salt="sv2")
    avi = codecs.encode_video(["filmed part"], hold=3, salt="sv2")
    blobs = pa.Table.from_pylist(
        [
            {"media_ref": "a:1", "kind": "wav", "content": wav},
            {"media_ref": "v:1", "kind": "avi", "content": avi},
            {"media_ref": "v:2", "kind": "avi", "content": codecs.encode_corrupt("y")},
        ],
        schema=corpus.BLOBS_SCHEMA,
    )
    pq.write_table(blobs, f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    rows = [
        {"doc_id": "ok", "spans": [
            {"kind": "text", "text": "written part", "media_ref": None, "offset": 0},
            {"kind": "wav", "text": None, "media_ref": "a:1", "offset": 1},
            {"kind": "avi", "text": None, "media_ref": "v:1", "offset": 2},
        ]},
        {"doc_id": "poison", "spans": [
            {"kind": "avi", "text": None, "media_ref": "v:2", "offset": 0},
        ]},
    ]
    pq.write_table(pa.Table.from_pylist(rows, schema=corpus.DOCUMENTS_SCHEMA),
                   f"{dirs['landing']}/drop0.parquet")
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in
           spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert got["ok"]["status"] == "done"
    assert got["ok"]["txt"] == "written part\nnarrated part\nfilmed part"
    assert got["poison"]["status"] == "failed"
    lin = {r["doc_id"]: r for r in
           spark.read.parquet(f"{dirs['lineage']}/epoch-0/rows").collect()}
    assert "magic" in lin["poison"]["error"]


def test_jsonl_drops_in_service_mode(spark, dirs, tmp_path):
    """JSONL interchange extends to streaming: a service drop of JSONL
    document lines (explicit schema — no per-restart inference scan)
    reassembles exactly like a parquet drop against a base64 blob
    table."""
    import base64
    import json

    from pmocr_spark import codecs
    from pmocr_spark.sources.jsonl import read_blobs_jsonl

    blob = codecs.encode_image("filmed line", "tiff", salt="j1")
    with open(f"{tmp_path}/blobs.jsonl", "w") as f:
        f.write(json.dumps({"media_ref": "b:1", "kind": "tiff",
                            "content_b64": base64.b64encode(blob).decode()}) + "\n")
    media = read_blobs_jsonl(spark, f"{tmp_path}/blobs.jsonl")
    with open(f"{dirs['landing']}/drop0.jsonl", "w") as f:
        f.write(json.dumps({"doc_id": "jd", "spans": [
            {"kind": "text", "text": "typed line", "media_ref": None, "offset": 0},
            {"kind": "tiff", "text": None, "media_ref": "b:1", "offset": 1},
        ]}) + "\n")
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True}, input_format="jsonl",
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in
           spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert got["jd"]["status"] == "done"
    assert got["jd"]["txt"] == "typed line\nfilmed line"


def test_orc_drops_in_service_mode(spark, dirs, tmp_path):
    """ORC interchange extends to streaming: a single-file .orc drop in
    the landing dir (explicit DOCUMENTS_SCHEMA — no per-restart
    inference scan) reassembles exactly like a parquet drop."""
    import pyarrow as pa
    import pyarrow.orc as po

    from pmocr_spark import codecs

    blob = codecs.encode_image("orc filmed line", "tiff", salt="o1")
    media = spark.createDataFrame(
        [("b:orc1", "tiff", blob)], "media_ref string, kind string, content binary"
    )
    span_t = pa.struct(
        [("kind", pa.string()), ("text", pa.string()),
         ("media_ref", pa.string()), ("offset", pa.int32())]
    )
    tbl = pa.table(
        {
            "doc_id": ["od"],
            "spans": pa.array(
                [[
                    {"kind": "text", "text": "orc typed line",
                     "media_ref": None, "offset": 0},
                    {"kind": "tiff", "text": None,
                     "media_ref": "b:orc1", "offset": 1},
                ]],
                type=pa.list_(span_t),
            ),
        }
    )
    po.write_table(tbl, f"{dirs['landing']}/drop0.orc")
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True}, input_format="orc",
    )
    q.awaitTermination(120)
    got = {r["doc_id"]: r for r in
           spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert got["od"]["status"] == "done"
    assert got["od"]["txt"] == "orc typed line\norc filmed line"


def test_dedup_epoch_releases_its_cached_blocks(spark, dirs, tmp_path):
    """An availableNow epoch with --dedup-index leaves no persisted RDD
    of its own behind: the verdicts cached for the keeper commit and the
    epoch output are released once the output is written."""
    import pyarrow as pa

    from pmocr_spark.operators import dedup_index as di

    pq.write_table(pa.Table.from_pylist([], schema=corpus.BLOBS_SCHEMA),
                   f"{tmp_path}/blobs.parquet")
    media = spark.read.parquet(f"{tmp_path}/blobs.parquet")
    idx_dir = str(tmp_path / "idx")
    A = "the quick brown fox jumps over the lazy dog near the river bank today"
    di.write_index(di.build_index(spark.createDataFrame(
        [("s-a", A)], "doc_id string, text string"), max_bucket=None), idx_dir)
    pq.write_table(pa.Table.from_pylist(
        [{"doc_id": "d1", "spans": [{"kind": "text", "text": A.replace("today", "tonight"),
                                     "media_ref": None, "offset": 0}]}],
        schema=corpus.DOCUMENTS_SCHEMA), f"{dirs['landing']}/drop.parquet")
    def persisted():  # ids, not a count: the JVM's cleaner may drop older ones meanwhile
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    before = persisted()
    q = streaming.monitor(
        spark, dirs["landing"], media, dirs["output"], dirs["stream_ckpt"],
        dirs["lineage"], trigger={"availableNow": True}, dedup_index_dir=idx_dir,
    )
    q.awaitTermination(120)
    out = {r["doc_id"]: r["dup_of"]
           for r in spark.read.parquet(f"{dirs['output']}/epoch-0").collect()}
    assert out == {"d1": "s-a"}
    assert persisted() - before == set()
