"""CLI surface: config-file source with CLI override (S3/F10), target
validation (docx/xlsx graceful reject), real-PDF output target."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pmocr_spark import cli


def test_config_file_defaults_and_cli_override(tmp_path):
    """pmOCR precedence (LoadConfigFile + double GetCommandlineArguments,
    pmocr.sh:685-715, 2409/2423): defaults < config < CLI."""
    conf = tmp_path / "job.conf"
    conf.write_text(
        "# pmOCR-style config\n"
        "config_revision=1.0\n"
        "batch=true\n"
        "input=/cfg/in\n"
        "blobs=/cfg/blobs\n"
        "output=/cfg/out\n"
        "lineage=/cfg/lineage\n"
        'targets="csv"\n'
        "run_id=cfg-run\n"
    )
    # config alone provides everything (incl. mode)
    a = cli.parse_args(["--config", str(conf)])
    assert a.batch and not a.service
    assert a.input == "/cfg/in" and a.targets == "csv" and a.run_id == "cfg-run"
    assert a.target_list == ["csv"]
    # CLI overrides config; unset keys keep config values
    a = cli.parse_args(["--config", str(conf), "--targets", "txt,pdf", "--input", "/cli/in"])
    assert a.target_list == ["txt", "pdf"] and a.input == "/cli/in"
    assert a.blobs == "/cfg/blobs"  # still from config
    # built-in default survives when neither sets it
    assert a.job_ts == "2024-01-01T00:00:00Z"


def test_config_json_and_mode_override(tmp_path):
    conf = tmp_path / "job.json"
    conf.write_text(
        '{"service": true, "input": "/cfg/in", "blobs": "/b", "output": "/o", "lineage": "/l"}'
    )
    a = cli.parse_args(["--config", str(conf)])
    assert a.service and not a.batch
    # CLI mode beats config mode (F10)
    a = cli.parse_args(["--config", str(conf), "--batch"])
    assert a.batch and not a.service


def test_config_typed_coercion(tmp_path):
    """Config values are strings; they must coerce to each flag's type:
    truthy-default options stay overridable (suffix), store_true flags
    parse booleans ('false' must not be a truthy string), typed options
    (kwic_window int) apply their argparse type."""
    conf = tmp_path / "typed.conf"
    conf.write_text(
        "batch=true\ninput=i\nblobs=b\noutput=o\nlineage=l\n"
        "suffix=_CONVERTED\nno_suffix=false\ndelete_input=true\n"
    )
    a = cli.parse_args(["--config", str(conf)])
    assert a.suffix == "_CONVERTED"
    assert a.no_suffix is False
    assert a.delete_input is True
    # explicit CLI still beats the config value
    assert cli.parse_args(["--config", str(conf), "--suffix", "_X"]).suffix == "_X"
    kconf = tmp_path / "kwic.conf"
    kconf.write_text("kwic=term\ninput=i\noutput=o\nkwic_window=8\n")
    k = cli.parse_args(["--config", str(kconf)])
    assert k.kwic_window == 8 and isinstance(k.kwic_window, int)


def test_config_revision_gate(tmp_path):
    conf = tmp_path / "old.conf"
    conf.write_text("config_revision=0.9\nbatch=true\n")
    with pytest.raises(SystemExit):
        cli.parse_args(["--config", str(conf)])


def test_unknown_config_key_rejected(tmp_path):
    conf = tmp_path / "bad.conf"
    conf.write_text("batch=true\nnot_a_flag=1\n")
    with pytest.raises(SystemExit):
        cli.parse_args(["--config", str(conf)])


@pytest.mark.parametrize("target", ["docx", "xlsx"])
def test_abbyy_only_targets_rejected(capsys, target):
    """pmOCR's docx/xlsx targets are ABBYY-engine-only (pmocr.sh:2571-2581,
    default.conf:122-126) — rejected with a pointer, not silently ignored."""
    argv = ["--batch", "--input", "i", "--blobs", "b", "--output", "o",
            "--lineage", "l", "--targets", target]
    with pytest.raises(SystemExit):
        cli.parse_args(argv)
    assert "ABBYY" in capsys.readouterr().err


def test_unknown_target_rejected():
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--input", "i", "--blobs", "b", "--output", "o",
                        "--lineage", "l", "--targets", "md"])


def test_mode_required():
    with pytest.raises(SystemExit):
        cli.parse_args(["--input", "i", "--blobs", "b", "--output", "o", "--lineage", "l"])


def test_naming_flags_and_delete_input(spark, corpus_dir, tmp_path):
    """F7 naming knobs (pmOCR --suffix/--no-suffix/--filename-addition)
    project an output_name column; --delete-input is accepted as a no-op
    (immutable table input; lineage anti-join is the analog)."""
    out = str(tmp_path / "out")
    cli.main(
        [
            "--batch",
            "--input", f"{corpus_dir}/documents.parquet",
            "--blobs", f"{corpus_dir}/media_blobs.parquet",
            "--output", out,
            "--lineage", str(tmp_path / "lineage"),
            "--targets", "csv",
            "--filename-addition=-scan1",
            "--delete-input",
        ]
    )
    row = spark.read.parquet(out).orderBy("doc_id").first()
    assert row["output_name"] == f"{row['doc_id']}-scan1_OCR.csv"
    # --no-suffix beats --suffix
    out2 = str(tmp_path / "out2")
    cli.main(
        [
            "--batch",
            "--input", f"{corpus_dir}/documents.parquet",
            "--blobs", f"{corpus_dir}/media_blobs.parquet",
            "--output", out2,
            "--lineage", str(tmp_path / "lineage2"),
            "--filename-addition=",
            "--no-suffix",
        ]
    )
    row = spark.read.parquet(out2).orderBy("doc_id").first()
    assert row["output_name"] == f"{row['doc_id']}.txt"


def test_batch_shuffle_join_matches_oracle(spark, corpus_dir, expected, tmp_path, monkeypatch):
    """With the broadcast threshold off (the full-corpus setting, where
    only a hinted join broadcasts) the plain route's anti-join becomes a
    sort-merge join and the span join still broadcasts its span side; the
    batch CLI's results still match the oracle."""
    from pmocr_spark import session

    get_spark = session.get_spark

    def no_broadcast(*a, **kw):
        # cli.main's get_spark re-applies the session defaults
        s = get_spark(*a, **kw)
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        return s

    monkeypatch.setattr(session, "get_spark", no_broadcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    out = str(tmp_path / "out")
    try:
        cli.main(
            [
                "--batch",
                "--input", f"{corpus_dir}/documents.parquet",
                "--blobs", f"{corpus_dir}/media_blobs.parquet",
                "--output", out,
                "--lineage", str(tmp_path / "lineage"),
            ]
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == len(expected)
    for doc_id, exp in expected.items():
        assert rows[doc_id]["txt"] == exp["txt"], doc_id
        assert rows[doc_id]["status"] == exp["status"], doc_id


def test_batch_pdf_target_roundtrip(spark, corpus_dir, expected, tmp_path):
    """The pdf target is a REAL container blob (pmOCR writes an actual
    searchable PDF, pmocr.sh:2202-2220): decoding it must reproduce the
    txt target exactly, for every doc including failed/poisoned ones."""
    from pmocr_spark import codecs

    out = str(tmp_path / "out")
    lineage = str(tmp_path / "lineage")
    cli.main(
        [
            "--batch",
            "--input", f"{corpus_dir}/documents.parquet",
            "--blobs", f"{corpus_dir}/media_blobs.parquet",
            "--output", out,
            "--lineage", lineage,
            "--targets", "txt,pdf",
        ]
    )
    rows = spark.read.parquet(out).collect()
    assert len(rows) == len(expected)
    for r in rows:
        assert r["pdf"] is not None
        assert codecs.decode_blob(r["pdf"]) == r["txt"], r["doc_id"]


def test_explicit_falsy_cli_value_beats_config(tmp_path):
    """An EXPLICIT falsy CLI value (--kwic-window 0) is not 'unset':
    the layered-precedence check must test `is None` for valued options
    (0 == False would otherwise hand the win back to the config)."""
    conf = tmp_path / "c.conf"
    conf.write_text("kwic=term\ninput=i\noutput=o\nkwic_window=16\n")
    assert cli.parse_args(["--config", str(conf)]).kwic_window == 16
    assert cli.parse_args(["--config", str(conf), "--kwic-window", "0"]).kwic_window == 0


def test_json_config_key_normalization_and_list_targets(tmp_path):
    """JSON configs get the same key normalization as key=value files
    ('job-ts' -> job_ts) and accept natural list-valued targets."""
    conf = tmp_path / "j.json"
    conf.write_text(
        '{"batch": true, "input": "i", "blobs": "b", "output": "o", '
        '"lineage": "l", "job-ts": "2024-02-01T00:00:00Z", "targets": ["txt", "pdf"]}'
    )
    a = cli.parse_args(["--config", str(conf)])
    assert a.job_ts == "2024-02-01T00:00:00Z"
    assert a.target_list == ["txt", "pdf"]


def test_skip_txt_pdf_parity_flag():
    """pmOCR -k/--skip-txt-pdf (pmocr.sh:2352-2356) is accepted; the F5
    text bypass is always-on here, so the flag is a documented no-op."""
    a = cli.parse_args(["--batch", "-k", "--input", "i", "--blobs", "b",
                        "--output", "o", "--lineage", "l"])
    assert a.skip_txt_pdf is True
    a = cli.parse_args(["--batch", "--skip-txt-pdf", "--input", "i", "--blobs", "b",
                        "--output", "o", "--lineage", "l"])
    assert a.skip_txt_pdf is True


def test_job_ts_advisory(spark, tmp_path, capsys):
    """P2 retry runs on the --job-ts clock: a re-run whose --job-ts does
    not advance past the lineage's last ts is warned that failed docs stay
    postponed; once --job-ts advances, no warning."""
    from pmocr_spark import corpus

    src = str(tmp_path / "corpus")
    corpus.write(src, n_docs=4, seed=3)

    def run(job_ts):
        cli.main(
            [
                "--batch",
                "--input", f"{src}/documents.parquet",
                "--blobs", f"{src}/media_blobs.parquet",
                "--output", str(tmp_path / "out"),
                "--lineage", str(tmp_path / "lineage"),
                "--job-ts", job_ts,
            ]
        )
        return capsys.readouterr().err

    assert "does not advance" not in run("2024-01-01T00:00:00Z")
    err = run("2024-01-01T00:00:00Z")
    assert "warning: --job-ts '2024-01-01 00:00:00' does not advance" in err, err
    assert "does not advance" not in run("2024-01-01T00:10:00Z")


def test_metrics_flag_writes_partition_report(spark, corpus_dir, tmp_path):
    """--metrics DIR writes the per-partition skew report (P8 /
    north-rule observability) after the run."""
    out = str(tmp_path / "out")
    metrics = str(tmp_path / "metrics")
    cli.main(
        [
            "--batch",
            "--input", f"{corpus_dir}/documents.parquet",
            "--blobs", f"{corpus_dir}/media_blobs.parquet",
            "--output", out,
            "--lineage", str(tmp_path / "lineage"),
            "--metrics", metrics,
        ]
    )
    rep = spark.read.parquet(metrics).collect()
    assert {r["run_id"] for r in rep} == {"run-0"}
    assert sum(r["docs"] for r in rep) == 120  # every corpus doc accounted for
    assert sum(r["failed_docs"] for r in rep) >= 1  # the poison pill shows up
    for r in rep:
        assert set(r.asDict()) == {
            "run_id", "partition_id", "docs", "spans", "errors", "failed_docs"
        }


def test_monitor_spec_parsing():
    """W7: repeated --monitor DIR=TARGETS; per-spec target validation;
    --input not required when every monitor carries its own dir."""
    a = cli.parse_args(
        ["--service", "--monitor", "/land/txtdir=txt", "--monitor", "/land/csvdir=csv,pdf",
         "--blobs", "/b", "--output", "/o", "--lineage", "/l"]
    )
    assert a.monitor_list == [
        ("txtdir", "/land/txtdir", ["txt"]),
        ("csvdir", "/land/csvdir", ["csv", "pdf"]),
    ]
    # basename collision -> disambiguated name, both monitors kept
    a = cli.parse_args(
        ["--service", "--monitor", "/x/in=txt", "--monitor", "/y/in=csv",
         "--blobs", "/b", "--output", "/o", "--lineage", "/l"]
    )
    assert [m[0] for m in a.monitor_list] == ["in", "in-1"]


def test_monitor_spec_from_config_and_errors(tmp_path):
    """Config-file monitors: JSON list (comma-joined by load_config) and
    ';'-separated strings both re-split correctly; --monitor with
    --batch and bad targets are rejected."""
    conf = tmp_path / "srv.json"
    conf.write_text(
        '{"service": true, "blobs": "/b", "output": "/o", "lineage": "/l",'
        ' "monitor": ["/d/a=txt,csv", "/d/b=pdf"]}'
    )
    a = cli.parse_args(["--config", str(conf)])
    assert a.monitor_list == [("a", "/d/a", ["txt", "csv"]), ("b", "/d/b", ["pdf"])]
    conf2 = tmp_path / "srv.conf"
    conf2.write_text(
        "service=true\nblobs=/b\noutput=/o\nlineage=/l\n"
        "monitor=/d/a=txt,csv;/d/b=pdf\n"
    )
    a = cli.parse_args(["--config", str(conf2)])
    assert a.monitor_list == [("a", "/d/a", ["txt", "csv"]), ("b", "/d/b", ["pdf"])]
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--monitor", "/d=txt",
                        "--input", "/i", "--blobs", "/b", "--output", "/o", "--lineage", "/l"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--service", "--monitor", "/d=docx",
                        "--blobs", "/b", "--output", "/o", "--lineage", "/l"])


def test_compact_lineage_modes(spark, tmp_path):
    """--compact-lineage: standalone maintenance mode (no --batch)
    compacts and exits; rejected under --service (live-stream hazard);
    requires --lineage."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lineage = str(tmp_path / "lin")
    rows = [
        {"partition_id": 0, "doc_id": "d1", "status": "failed", "span_count": 1,
         "error_count": 1, "error": "x", "retry_count": 1, "run_id": "r1",
         "ts": "2024-01-01 00:00:00"},
        {"partition_id": 0, "doc_id": "d1", "status": "done", "span_count": 1,
         "error_count": 0, "error": None, "retry_count": 1, "run_id": "r2",
         "ts": "2024-01-01 01:00:00"},
    ]
    from datetime import datetime

    for r in rows:
        r["ts"] = datetime.fromisoformat(r["ts"])
    t = pa.Table.from_pylist(
        rows,
        schema=pa.schema(
            [
                ("partition_id", pa.int32()),
                ("doc_id", pa.string()),
                ("status", pa.string()),
                ("span_count", pa.int32()),
                ("error_count", pa.int32()),
                ("error", pa.string()),
                ("retry_count", pa.int32()),
                ("run_id", pa.string()),
                ("ts", pa.timestamp("us")),
            ]
        ),
    )
    import os

    os.makedirs(lineage)
    pq.write_table(t, f"{lineage}/part.parquet")
    # standalone mode parses without input/blobs/output/mode
    a = cli.parse_args(["--compact-lineage", "--lineage", lineage])
    assert a.compact_only
    cli.main(["--compact-lineage", "--lineage", lineage, "--master", "local[2]"])
    import duckdb

    got = duckdb.sql(f"select status, retry_count from read_parquet('{lineage}/*/rows/*.parquet')").fetchall()
    assert got == [("done", 1)]
    with pytest.raises(SystemExit):
        cli.parse_args(["--service", "--compact-lineage", "--input", "/i",
                        "--blobs", "/b", "--output", "/o", "--lineage", "/l"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--compact-lineage"])


def test_monitor_name_uniquify_chain():
    """Disambiguated names must not collide with an explicit basename:
    x-2, x, x -> x-2, x, x-1 (never two monitors sharing dirs)."""
    a = cli.parse_args(
        ["--service", "--monitor", "/a/x-2=txt", "--monitor", "/b/x=txt",
         "--monitor", "/c/x=csv",
         "--blobs", "/b", "--output", "/o", "--lineage", "/l"]
    )
    names = [m[0] for m in a.monitor_list]
    assert len(set(names)) == 3, names


def test_monitor_spec_preserves_commas_in_list_form(tmp_path):
    """From the CLI (append) and JSON configs (list preserved end-to-end)
    each item is ONE spec split on the first '=', so commas in dir paths
    are safe; only the key=value string form needs the re-split
    heuristic."""
    a = cli.parse_args(
        ["--service", "--monitor", "/data/x,y=csv",
         "--blobs", "/b", "--output", "/o", "--lineage", "/l"]
    )
    assert a.monitor_list == [("x,y", "/data/x,y", ["csv"])]
    conf = tmp_path / "m.json"
    conf.write_text(
        '{"service": true, "blobs": "/b", "output": "/o", "lineage": "/l",'
        ' "monitor": ["/data/x,y=csv", "/d/b=txt,pdf"]}'
    )
    a = cli.parse_args(["--config", str(conf)])
    assert a.monitor_list == [("x,y", "/data/x,y", ["csv"]), ("b", "/d/b", ["txt", "pdf"])]


def test_raw_dir_ingest_end_to_end(spark, tmp_path):
    """pmOCR's native input shape (`--batch -c /some/path`): a raw
    directory of media files, no parquet anywhere on the input side.
    Files are lifted to one-span documents, OCR'd, and the extracted
    text must match the codec's deterministic content; disallowed
    extensions never enter the run."""
    import os

    from pmocr_spark import codecs

    raw = tmp_path / "tree" / "sub"
    os.makedirs(raw)
    texts = {"a.tif": "alpha bravo", "b.png": "charlie delta"}
    for name, text in texts.items():
        ref = str(raw / name)
        kind = name.split(".")[-1]
        with open(ref, "wb") as f:
            f.write(codecs.encode_image(text, kind, salt=f"file:{ref}"))
    (raw / "notes.txt").write_text("not media")  # allow-list must skip

    out = str(tmp_path / "out")
    cli.main(
        ["--batch", "--raw", str(tmp_path / "tree"), "--output", out,
         "--lineage", str(tmp_path / "lineage"), "--targets", "txt",
         "--master", "local[4]"]
    )
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(rows) == 2
    for name, text in texts.items():
        (doc_id,) = [d for d in rows if d.endswith(name)]
        assert rows[doc_id]["status"] == "done"
        assert rows[doc_id]["txt"] == text

    # flag validation
    with pytest.raises(SystemExit):
        cli.parse_args(["--service", "--raw", "/r", "--output", "/o", "--lineage", "/l"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--raw", "/r", "--input", "/i",
                        "--output", "/o", "--lineage", "/l"])


def test_raw_cli_displaces_config_input(tmp_path):
    """defaults < config < CLI holds for the input-source choice too:
    a config carrying input/blobs must not make a CLI --raw collide."""
    conf = tmp_path / "b.conf"
    conf.write_text("batch=true\ninput=/cfg/in\nblobs=/cfg/b\noutput=/o\nlineage=/l\n")
    a = cli.parse_args(["--config", str(conf), "--raw", "/tree"])
    assert a.raw == "/tree" and a.input is None and a.blobs is None
    # and the converse: CLI --input displaces a config's raw
    conf2 = tmp_path / "r.conf"
    conf2.write_text("batch=true\nraw=/cfg/tree\noutput=/o\nlineage=/l\n")
    a = cli.parse_args(["--config", str(conf2), "--input", "/i", "--blobs", "/b"])
    assert a.raw is None and a.input == "/i"


def test_service_once_reconciliation(spark, tmp_path):
    """--service --once: one AvailableNow pass drains the landing dir
    and EXITS (pmOCR's W4 forced periodic run) — no resident poller;
    a second --once against the same offsets checkpoint picks up only
    files the first pass hasn't seen (cron-able reconciliation)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pmocr_spark import corpus

    docs_t, blobs_t = corpus.generate(n_docs=10, seed=21)
    pq.write_table(blobs_t, f"{tmp_path}/blobs.parquet")
    land = tmp_path / "land"
    os.makedirs(land)
    pq.write_table(docs_t.slice(0, 6), f"{land}/d1.parquet")

    argv = ["--service", "--once", "--input", str(land),
            "--blobs", f"{tmp_path}/blobs.parquet",
            "--output", str(tmp_path / "out"), "--lineage", str(tmp_path / "lin"),
            "--stream-checkpoint", str(tmp_path / "ck"), "--master", "local[4]"]
    cli.main(argv)  # returns (does not block) — that IS the assertion
    read = lambda: spark.read.option("recursiveFileLookup", "true").parquet(
        str(tmp_path / "out")
    )
    assert read().count() == 6
    pq.write_table(docs_t.slice(6, 4), f"{land}/d2.parquet")
    cli.main(argv)
    assert read().count() == 10
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--once", "--input", "i", "--blobs", "b",
                        "--output", "o", "--lineage", "l"])


def test_dedup_index_lifecycle_cli(spark, tmp_path):
    """Round-3 verdict item #4: the persisted dedup-index lifecycle as
    CLI maintenance modes. build(b1) -> probe(b2) finds the cross-batch
    dup; merge(b2) -> compact; probing the UNION against the maintained
    index then yields exactly the hits of a one-shot build+probe over
    the union (the q18 invariant, incrementally)."""
    from pmocr_spark.operators import dedup_index as di

    b1 = [
        ("a1", "the quick brown fox jumps over the lazy dog near the river bank today"),
        ("a2", "completely unrelated text about cooking pasta with garlic and olive oil"),
    ]
    b2 = [
        ("b1", "the quick brown fox jumps over the lazy dog near the river bank tonight"),
        ("b2", "telescopes gather photons from distant galaxies revealing ancient light"),
    ]
    mk = lambda rows: spark.createDataFrame(rows, "doc_id string, text string")  # noqa: E731
    mk(b1).write.parquet(str(tmp_path / "b1"))
    mk(b2).write.parquet(str(tmp_path / "b2"))
    mk(b1 + b2).write.parquet(str(tmp_path / "all"))
    idx = str(tmp_path / "idx")

    cli.main(["--build-dedup-index", idx, "--input", str(tmp_path / "b1"),
              "--master", "local[4]"])
    cli.main(["--probe-dedup-index", idx, "--input", str(tmp_path / "b2"),
              "--output", str(tmp_path / "hits"), "--probe-broadcast", "force",
              "--master", "local[4]"])
    hits = {(r["doc_id"], r["dup_of"]) for r in
            spark.read.parquet(str(tmp_path / "hits")).collect()}
    assert hits == {("b1", "a1")}  # cross-batch near-dup, fresh doc clean

    cli.main(["--merge-dedup-index", idx, "--input", str(tmp_path / "b2"),
              "--master", "local[4]"])
    cli.main(["--compact-dedup-index", idx, "--master", "local[4]"])

    # maintained index == one-shot over the union: identical probe hits
    index, params = di.read_index(spark, idx)
    assert params["n_hashes"] == di.N_MINHASH  # sidecar survived the swaps
    union = spark.read.parquet(str(tmp_path / "all"))
    got = {(r["doc_id"], r["dup_of"]) for r in
           di.probe_index(union, index, index_params=params).collect()}
    oneshot_idx = di.build_index(union)
    want = {(r["doc_id"], r["dup_of"]) for r in
            di.probe_index(union, oneshot_idx, new_bands=oneshot_idx).collect()}
    assert got == want and ("b1", "a1") in got

    # mutually exclusive / missing-arg validation
    with pytest.raises(SystemExit):
        cli.parse_args(["--build-dedup-index", idx, "--merge-dedup-index", idx])
    with pytest.raises(SystemExit):
        cli.parse_args(["--probe-dedup-index", idx, "--input", "x"])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--build-dedup-index", idx, "--input", "x",
                        "--blobs", "b", "--output", "o", "--lineage", "l"])


def test_dedup_substrings_cli(spark, tmp_path):
    """--dedup-substrings maintenance mode: cleaned corpus keeps every
    non-text column, text is the keep-first substring-deduped
    reconstruction, and the n_words/n_kept/n_removed stats land."""
    rows = [
        ("d1", "x1 x2 a b c d x3 x4", "en"),
        ("d2", "y1 y2 y3 a b c d y4", "de"),
        ("d3", "p q r s t u v w", "fr"),
    ]
    spark.createDataFrame(
        rows, "doc_id string, text string, lang string"
    ).write.parquet(str(tmp_path / "docs"))

    cli.main(["--dedup-substrings", "--substr-k", "4",
              "--input", str(tmp_path / "docs"),
              "--output", str(tmp_path / "clean"), "--master", "local[4]"])
    out = {r["doc_id"]: r for r in
           spark.read.parquet(str(tmp_path / "clean")).collect()}
    assert out["d1"]["text"] == "x1 x2 a b c d x3 x4"  # canonical copy
    assert out["d2"]["text"] == "y1 y2 y3 y4" and out["d2"]["n_removed"] == 4
    assert out["d3"]["text"] == "p q r s t u v w" and out["d3"]["n_removed"] == 0
    assert out["d2"]["lang"] == "de"  # passthrough column survives

    # idempotent over its own output: the stats columns from pass 1 are
    # overwritten, not COLUMN_ALREADY_EXISTS-collided, and a clean corpus
    # stays byte-identical
    cli.main(["--dedup-substrings", "--substr-k", "4",
              "--input", str(tmp_path / "clean"),
              "--output", str(tmp_path / "clean2"), "--master", "local[4]"])
    out2 = {r["doc_id"]: r for r in
            spark.read.parquet(str(tmp_path / "clean2")).collect()}
    assert {d: r["text"] for d, r in out2.items()} == {
        d: r["text"] for d, r in out.items()
    }
    assert all(r["n_removed"] == 0 for r in out2.values())

    with pytest.raises(SystemExit):
        cli.parse_args(["--dedup-substrings", "--input", "x"])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--dedup-substrings", "--substr-k", "1",
                        "--input", "x", "--output", "y"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--batch", "--dedup-substrings", "--input", "x",
                        "--blobs", "b", "--output", "o", "--lineage", "l"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--dedup-substrings", "--build-dedup-index", "i",
                        "--input", "x", "--output", "y"])
    with pytest.raises(SystemExit):  # compact-lineage must not swallow it
        cli.parse_args(["--dedup-substrings", "--compact-lineage",
                        "--lineage", "l", "--input", "x", "--output", "y"])


def test_bpe_cli_lifecycle(spark, tmp_path):
    """--train-bpe writes a model dir whose merge table matches a direct
    learn_bpe over the same corpus; --encode-bpe tokenizes with it and
    is idempotent over its own output."""
    from pmocr_spark.operators import bpe

    rows = [
        ("d1", "lower lowest low low lower"),
        ("d2", "newer newest new new newer"),
        ("d3", "wider widest wide wide wider"),
    ]
    docs = spark.createDataFrame(rows, "doc_id string, text string")
    docs.write.parquet(str(tmp_path / "docs"))

    cli.main(["--train-bpe", "6", "--input", str(tmp_path / "docs"),
              "--output", str(tmp_path / "model"), "--master", "local[4]"])
    got = bpe.read_model(spark, str(tmp_path / "model"))
    want = bpe.learn_bpe(docs, 6)
    assert got == want and len(got) >= 1

    cli.main(["--encode-bpe", str(tmp_path / "model"),
              "--input", str(tmp_path / "docs"),
              "--output", str(tmp_path / "enc"), "--master", "local[4]"])
    out = {r["doc_id"]: r for r in
           spark.read.parquet(str(tmp_path / "enc")).collect()}
    ranks = {(l, r): i for i, (l, r, _c) in enumerate(want)}
    for doc_id, text in rows:
        want_toks = [t for w in text.split() for t in bpe.encode_word(w, ranks)]
        assert out[doc_id]["bpe_tokens"] == want_toks
        assert out[doc_id]["n_bpe_tokens"] == len(want_toks)

    # idempotent re-encode of the already-encoded table
    cli.main(["--encode-bpe", str(tmp_path / "model"),
              "--input", str(tmp_path / "enc"),
              "--output", str(tmp_path / "enc2"), "--master", "local[4]"])
    out2 = {r["doc_id"]: r["bpe_tokens"] for r in
            spark.read.parquet(str(tmp_path / "enc2")).collect()}
    assert out2 == {d: r["bpe_tokens"] for d, r in out.items()}


def test_bpe_cli_errors(tmp_path):
    """BPE modes are standalone, validated, and cannot be combined."""
    with pytest.raises(SystemExit):  # needs input+output
        cli.parse_args(["--train-bpe", "4", "--input", "x"])
    with pytest.raises(SystemExit):  # n_merges >= 1
        cli.parse_args(["--train-bpe", "0", "--input", "x", "--output", "y"])
    with pytest.raises(SystemExit):  # not combinable with --batch
        cli.parse_args(["--train-bpe", "4", "--batch", "--input", "x",
                        "--output", "y"])
    with pytest.raises(SystemExit):  # min-count is train-only
        cli.parse_args(["--encode-bpe", "m", "--bpe-min-count", "3",
                        "--input", "x", "--output", "y"])
    with pytest.raises(SystemExit):  # ...even under earlier-dispatching modes
        cli.parse_args(["--phash-dedup", "--blobs", "b", "--output", "o",
                        "--bpe-min-count", "5"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--compact-lineage", "--lineage", "l",
                        "--bpe-min-count", "5"])
    with pytest.raises(SystemExit):  # two maintenance modes at once
        cli.parse_args(["--train-bpe", "4", "--phash-dedup",
                        "--input", "x", "--output", "y"])


def test_encode_bpe_missing_model_fails_loudly(spark, tmp_path):
    """A non-model dir must raise, not masquerade as an empty model."""
    from pmocr_spark.operators import bpe

    (tmp_path / "notamodel").mkdir()
    with pytest.raises(ValueError, match="not a BPE model dir"):
        bpe.read_model(spark, str(tmp_path / "notamodel"))


def test_partition_by_status_sink_layout(spark, corpus_dir, tmp_path):
    """--partition-by status: the batch sink writes Hive-partitioned
    subdirs (status=done/, status=failed/ — the S6 quarantine layout as
    physical layout), rows round-trip identically, and a status filter
    on the partitioned table prunes to partition-level filters."""
    import os

    out = str(tmp_path / "out")
    cli.main(
        [
            "--batch",
            "--input", f"{corpus_dir}/documents.parquet",
            "--blobs", f"{corpus_dir}/media_blobs.parquet",
            "--output", out,
            "--lineage", str(tmp_path / "lineage"),
            "--targets", "txt",
            "--partition-by", "status",
        ]
    )
    subdirs = {d for d in os.listdir(out) if d.startswith("status=")}
    assert subdirs == {"status=done", "status=failed"}, subdirs
    got = spark.read.parquet(out)
    assert got.filter(F.col("status") == "failed").count() >= 1
    # partition pruning: the status filter must become a PartitionFilter
    # on the scan, not a row-level Filter
    plan = got.filter(F.col("status") == "done")._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "status" in plan.split("PartitionFilters:")[1].split("]")[0]


def test_partition_by_unknown_column_rejected(corpus_dir, tmp_path):
    with pytest.raises(SystemExit, match="partition-by column"):
        cli.main(
            [
                "--batch",
                "--input", f"{corpus_dir}/documents.parquet",
                "--blobs", f"{corpus_dir}/media_blobs.parquet",
                "--output", str(tmp_path / "out"),
                "--lineage", str(tmp_path / "lineage"),
                "--targets", "txt",
                "--partition-by", "no_such_col",
            ]
        )


def test_extract_markdown_mode(spark, tmp_path):
    """--extract-markdown: html blobs (content-magic dispatch) convert
    to markdown + structured tables; media blobs are skipped; every
    markdown output equals converting the decoded blob directly."""
    import json

    from pmocr_spark import codecs
    from pmocr_spark.operators import html_extract as hx

    blobs = {}
    for i in range(12):
        page = hx.wrap_boilerplate(f"payload {i} words here", doc_id=i)
        # give a third of the pages a data table too
        if i % 3 == 0:
            page = page.replace(
                "</body>",
                f"<table><tr><th>k</th><th>v</th></tr>"
                f"<tr><td>id</td><td>{i}</td></tr></table></body>",
            )
        blobs[f"h:{i}"] = page.encode("utf-8")
    blobs["img:0"] = codecs.encode_image("not html", "png", salt="x")
    bdir = str(tmp_path / "blobs")
    spark.createDataFrame(
        [(k, bytearray(v)) for k, v in blobs.items()],
        "media_ref string, content binary",
    ).write.parquet(bdir)

    out = str(tmp_path / "md")
    cli.main(
        ["--extract-markdown", "--blobs", bdir, "--output", out,
         "--master", "local[2]"]
    )
    got = {r["media_ref"]: r for r in spark.read.parquet(out).collect()}
    html_refs = {ref for ref, b in blobs.items() if hx.sniff_html(b)}
    assert set(got) == html_refs and len(html_refs) == 12
    for ref in html_refs:
        doc = blobs[ref].decode("utf-8")
        assert got[ref]["markdown"] == hx.to_markdown(doc)
        assert got[ref]["n_tables"] == len(hx.extract_tables(doc))
        assert json.loads(got[ref]["tables_json"]) == hx.extract_tables(doc)
    assert any(got[r]["n_tables"] > 0 for r in html_refs)


def test_fix_text_cli(spark, tmp_path):
    """--fix-text repairs OCR line-wrap artifacts in-place: hyphenated
    breaks join, single wraps flatten, paragraph breaks survive; the
    counters report what changed and the summary handles empty input
    (coalesce, the round-4 ADVICE lesson)."""
    from pmocr_spark import cli

    rows = [
        (1, "the quick bro-\nwn fox\njumps", "keep"),
        (2, "para one line\n\npara two li-\n ne", "keep"),
        (3, "already clean", "keep"),
    ]
    src = str(tmp_path / "in")
    spark.createDataFrame(rows, "doc_id long, text string, other string").write.parquet(src)
    out = str(tmp_path / "fixed")
    cli.main(["--fix-text", "--input", src, "--output", out, "--master", "local[4]"])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert got[1]["text"] == "the quick brown fox jumps"
    assert got[1]["n_hyphens_repaired"] == 1 and got[1]["n_breaks_reflowed"] == 1
    assert got[2]["text"] == "para one line\n\npara two line"
    assert got[2]["n_hyphens_repaired"] == 1 and got[2]["n_breaks_reflowed"] == 0
    assert got[3]["text"] == "already clean" and got[3]["n_hyphens_repaired"] == 0
    assert got[3]["other"] == "keep"  # untouched columns survive
    # alternate column name + missing-column failure is loud
    src2 = str(tmp_path / "in2")
    spark.createDataFrame([(1, "a-\nb")], "doc_id long, txt string").write.parquet(src2)
    out2 = str(tmp_path / "fixed2")
    cli.main(["--fix-text", "--input", src2, "--output", out2,
              "--text-col", "txt", "--master", "local[4]"])
    assert spark.read.parquet(out2).collect()[0]["txt"] == "ab"
    with pytest.raises(SystemExit):
        cli.main(["--fix-text", "--input", src2, "--output", out2,
                  "--text-col", "nope", "--master", "local[4]"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--fix-text", "--input", src])  # no --output


def test_audit_blobs_cli(spark, tmp_path):
    """--audit-blobs: container magic vs declared kind, pure codegen
    head-byte detection; mismatches (mislabeled, corrupt, missing)
    land in the output table, clean blobs don't."""
    from pmocr_spark import cli, codecs

    rows = [
        ("ok-img", "tiff", codecs.encode_image("fine", "tiff", salt="a")),
        ("ok-pdf", "pdf", codecs.encode_pdf(["page"], salt="b")),
        ("ok-wav", "wav", codecs.encode_audio("sound", salt="c")),
        ("ok-avi", "avi", codecs.encode_video(["scene"], hold=1, salt="d")),
        ("ok-html", "html", b"<!DOCTYPE html><html><body>x</body></html>"),
        # mislabeled: declared tiff, actually audio bytes
        ("mislabel", "tiff", codecs.encode_audio("oops", salt="e")),
        # corrupt: declared png, unknown magic
        ("corrupt", "png", codecs.encode_corrupt("zz")),
        # missing payload
        ("nullblob", "pdf", None),
    ]
    blobs = str(tmp_path / "blobs")
    spark.createDataFrame(rows, "media_ref string, kind string, content binary") \
        .write.parquet(blobs)
    out = str(tmp_path / "audit")
    cli.main(["--audit-blobs", "--blobs", blobs, "--output", out,
              "--master", "local[4]"])
    bad = {r["media_ref"]: r for r in spark.read.parquet(out).collect()}
    assert set(bad) == {"mislabel", "corrupt", "nullblob"}
    assert bad["mislabel"]["detected"] == "audio"
    assert bad["corrupt"]["detected"] == "unknown"
    assert bad["nullblob"]["detected"] == "missing"
    with pytest.raises(SystemExit):
        cli.parse_args(["--audit-blobs", "--blobs", blobs])  # no --output


def test_corpus_stats_cli(spark, tmp_path):
    """--corpus-stats datasheet: exact counters verified against a
    hand-computed corpus (incl. a duplicate pair), sketch fields sane,
    lang mix from the marker heuristic, bounded top-word list."""
    import json

    from pmocr_spark import cli

    rows = [
        (1, "the cat sat on the mat"),          # en: 'the' x2
        (2, "the cat sat on the mat"),          # exact duplicate of 1
        (3, "los rios los valles"),             # es
        (4, "zz yy xx"),                        # und (no markers)
    ]
    src = str(tmp_path / "docs")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "datasheet.json")
    cli.main(["--corpus-stats", "--input", src, "--output", out,
              "--master", "local[4]"])
    sheet = json.load(open(out))
    assert sheet["n_docs"] == 4
    assert sheet["total_tokens"] == 6 + 6 + 4 + 3
    assert sheet["total_chars"] == sum(len(t) for _, t in rows)
    assert sheet["min_tokens"] == 3 and sheet["max_tokens"] == 6
    # 4 docs, 3 distinct contents -> dup rate 0.25 (HLL exact at n=3)
    assert sheet["approx_distinct_docs"] == 3
    assert sheet["approx_exact_dup_rate"] == 0.25
    assert sheet["lang_mix"] == {"en": 2, "es": 1, "und": 1}
    top = {d["word"]: d["count"] for d in sheet["top_words"]}
    assert top["the"] == 4 and top["los"] == 2
    assert len(sheet["top_words"]) <= 20
    assert len(sheet["tokens_p05_50_95"]) == 3
    with pytest.raises(SystemExit):
        cli.parse_args(["--corpus-stats", "--input", src])  # no --output


def test_word_boxes_mode(spark, tmp_path):
    """--word-boxes: image/pdf blobs (content-magic dispatch) yield
    per-word hOCR-style geometry rows; non-image blobs are skipped;
    undecodable image blobs land as error rows; good rows equal
    recognize_words on the raw blob."""
    from pmocr_spark import codecs

    blobs = {
        "i:0": codecs.encode_image("two words\nmore here now", "tif", salt="wb"),
        "i:1": codecs.encode_pdf(["page one", "page two words"], salt="wb"),
        # image magic but truncated payload -> CodecError -> error row
        "bad": codecs.encode_image("poison pill", "png", salt="wb")[:30],
        # magic intact, HEADER torn mid-struct -> raw struct.error from
        # rasterize; error-as-data must survive non-CodecError exceptions
        "torn": codecs.encode_image("p", "png", salt="wb")[:12],
        "a:0": codecs.encode_audio("not an image", salt="wb"),
    }
    bdir = str(tmp_path / "blobs")
    spark.createDataFrame(
        [(k, bytearray(v)) for k, v in blobs.items()],
        "media_ref string, content binary",
    ).write.parquet(bdir)

    out = str(tmp_path / "boxes")
    cli.main(
        ["--word-boxes", "--blobs", bdir, "--output", out,
         "--master", "local[2]"]
    )
    got = spark.read.parquet(out).collect()
    by_ref: dict[str, list] = {}
    for r in got:
        by_ref.setdefault(r["media_ref"], []).append(r)
    assert set(by_ref) == {"i:0", "i:1", "bad", "torn"}  # audio skipped
    for bad_ref in ("bad", "torn"):
        errs = by_ref[bad_ref]
        assert len(errs) == 1 and errs[0]["error"] and errs[0]["word"] is None
    for ref in ("i:0", "i:1"):
        exp = codecs.recognize_words(blobs[ref])
        rows = sorted(
            (r["line_no"], r["word_no"], r["word"],
             r["x0"], r["y0"], r["x1"], r["y1"])
            for r in by_ref[ref]
        )
        assert rows == sorted(exp) and all(r["error"] is None for r in by_ref[ref])
    # pdf blob: words span both pages (global line numbering)
    assert {r["line_no"] for r in by_ref["i:1"]} == {0, 1}


def test_word_boxes_hocr_mode(spark, tmp_path):
    """--word-boxes --hocr: one hOCR XHTML document per decodable blob,
    parse-back equal to recognize_words; error rows keep the
    error-as-data shape."""
    from pmocr_spark import codecs
    from tests.test_codecs import _parse_hocr

    blobs = {
        "i:0": codecs.encode_image("alpha beta\ngamma", "tif", salt="hc"),
        "bad": codecs.encode_image("x", "png", salt="hc")[:25],
    }
    bdir = str(tmp_path / "blobs")
    spark.createDataFrame(
        [(k, bytearray(v)) for k, v in blobs.items()],
        "media_ref string, content binary",
    ).write.parquet(bdir)

    out = str(tmp_path / "hocr")
    cli.main(
        ["--word-boxes", "--hocr", "--blobs", bdir, "--output", out,
         "--master", "local[2]"]
    )
    got = {r["media_ref"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {"i:0", "bad"}
    ok = got["i:0"]
    assert ok["error"] is None and ok["n_words"] == 3
    assert _parse_hocr(ok["hocr"]) == codecs.recognize_words(blobs["i:0"])
    assert f"id='i:0'" in ok["hocr"]  # page id carries the media_ref
    bad = got["bad"]
    assert bad["hocr"] is None and bad["n_words"] == -1 and bad["error"]


def test_hocr_without_word_boxes_rejected():
    with pytest.raises(SystemExit):
        cli.parse_args(
            ["--extract-markdown", "--blobs", "b", "--output", "o", "--hocr"]
        )


def test_word_boxes_tables_mode(spark, tmp_path):
    """--word-boxes --tables: geometric cell rows per blob, equal to
    detect_table(recognize_words(blob)); --tables+--hocr rejected."""
    from pmocr_spark import codecs

    t = "alpha     beta    gamma\nx                 z"
    blobs = {
        "i:0": codecs.encode_image(t, "tif", salt="ct"),
        # two-COLUMN page: each layout block is its own table — mixing
        # their block-local x frames would fabricate phantom columns
        "i:1": codecs.encode_image_columns(["k  v\na  b", "p   q"], "tif", salt="ct"),
    }
    bdir = str(tmp_path / "blobs")
    spark.createDataFrame(
        [(k, bytearray(v)) for k, v in blobs.items()],
        "media_ref string, content binary",
    ).write.parquet(bdir)
    out = str(tmp_path / "cells")
    cli.main(
        ["--word-boxes", "--tables", "--blobs", bdir, "--output", out,
         "--master", "local[2]"]
    )
    rows = spark.read.parquet(out).collect()
    got = sorted(
        (r["row_no"], r["col_no"], r["cell"], r["x0"], r["x1"], r["y0"], r["y1"])
        for r in rows if r["media_ref"] == "i:0"
    )
    exp = sorted(codecs.detect_table(codecs.recognize_words(blobs["i:0"])))
    assert got == exp
    # the ragged row keeps column identity (col 1 empty, z in col 2)
    assert (1, 2, "z") in {(r, c, w) for r, c, w, *_ in got}
    # the two-column blob yields one independent table per block
    two = [r for r in rows if r["media_ref"] == "i:1"]
    assert {r["block_no"] for r in two} == {0, 1}
    left = {(r["row_no"], r["col_no"]): r["cell"] for r in two if r["block_no"] == 0}
    right = {(r["row_no"], r["col_no"]): r["cell"] for r in two if r["block_no"] == 1}
    assert left == {(0, 0): "k", (0, 1): "v", (1, 0): "a", (1, 1): "b"}
    assert right == {(0, 0): "p", (0, 1): "q"}
    with pytest.raises(SystemExit):
        cli.parse_args(["--word-boxes", "--tables", "--hocr",
                        "--blobs", "b", "--output", "o"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--extract-markdown", "--blobs", "b", "--output", "o",
                        "--tables"])


def test_winnow_dedup_cli(spark, tmp_path):
    """--winnow-dedup maintenance mode: writes the MOSS fingerprint
    index next to the candidate pairs; the overlap pair (a >= k+w-1-word
    shared run) is found, the disjoint doc is clean, and knob/exclusivity
    validation rejects bad invocations."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog while the quick "
            "brown fox naps under a warm autumn sun near the river bank"),
        (2, "totally different content about query planning and shuffle "
            "exchanges inside the spark catalyst optimizer pipeline"),
        (3, "prefix words first and then jumps over the lazy dog while the "
            "quick brown fox naps under a warm autumn sun appears again"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "pairs")
    cli.main(["--winnow-dedup", "--input", str(tmp_path / "docs"),
              "--output", out, "--winnow-min-shared", "1",
              "--master", "local[4]"])
    pairs = {(r["doc_a"], r["doc_b"]): r["n_shared"]
             for r in spark.read.parquet(out).collect()}
    assert (1, 3) in pairs and all(2 not in p for p in pairs)
    fps = spark.read.parquet(out + ".fps")
    assert set(fps.columns) == {"doc_id", "pos", "fp"}
    assert fps.filter(F.col("doc_id") == 2).count() > 0  # indexed, just clean

    with pytest.raises(SystemExit):
        cli.parse_args(["--winnow-dedup", "--input", "x"])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--winnow-dedup", "--batch", "--input", "x",
                        "--output", "o"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--winnow-min-shared", "2", "--input", "x",
                        "--output", "o"])  # knob without its mode
    with pytest.raises(SystemExit):
        cli.parse_args(["--winnow-dedup", "--srp-dedup", "--input", "x",
                        "--output", "o"])


def test_summarize_cli(spark, tmp_path):
    """--summarize maintenance mode: TextRank top-k sentences per doc
    with the expected schema and per-doc counts; knob/exclusivity
    validation rejects bad invocations."""
    rows = [
        (1, "the cat sat on the mat. the dog sat on the mat! "
            "quantum flux capacitors hum."),
        (2, "alpha beta gamma."),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        str(tmp_path / "docs")
    )
    out = str(tmp_path / "summaries")
    cli.main(["--summarize", "--input", str(tmp_path / "docs"),
              "--output", out, "--summary-k", "1", "--master", "local[4]"])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2}
    assert set(got[1].asDict()) == {"doc_id", "rank", "sidx", "sentence", "score_u"}
    assert got[1]["rank"] == 1 and got[1]["sidx"] in (0, 1)  # the linked pair
    assert got[2]["sentence"] == "alpha beta gamma." and got[2]["score_u"] == 150000

    with pytest.raises(SystemExit):
        cli.parse_args(["--summarize", "--input", "x"])  # no --output
    with pytest.raises(SystemExit):
        cli.parse_args(["--summarize", "--service", "--input", "x",
                        "--output", "o"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--summary-k", "2", "--input", "x", "--output", "o"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--summarize", "--summary-k", "0", "--input", "x",
                        "--output", "o"])


def test_word_boxes_layout_mode(spark, tmp_path, capsys):
    """--word-boxes --layout: XY-cut reading-order blocks per blob; a
    torn blob lands as an error row; exclusivity guards fire."""
    from pmocr_spark import codecs

    rows = [
        ("m1", codecs.encode_image_regions(
            [["title here"], ["col a one\ncol a two", "col b one"]],
            "tif", salt="L")),
        ("m2", codecs.encode_image("single block", "tif", salt="L2")),
        ("m3", codecs.IMG_MAGIC + b"torn"),
    ]
    spark.createDataFrame(rows, "media_ref string, content binary").write.parquet(
        str(tmp_path / "blobs")
    )
    out = str(tmp_path / "layout")
    cli.main(["--word-boxes", "--layout", "--blobs", str(tmp_path / "blobs"),
              "--output", out, "--master", "local[2]"])
    got = {(r["media_ref"], r["block_no"]): r
           for r in spark.read.parquet(out).collect()}
    assert got[("m1", 0)]["text"] == "title here"
    assert got[("m1", 1)]["text"] == "col a one\ncol a two"
    assert got[("m1", 1)]["n_lines"] == 2
    assert got[("m1", 2)]["text"] == "col b one"
    assert got[("m2", 0)]["text"] == "single block"
    assert got[("m3", -1)]["error"] is not None
    assert "layout blocks" in capsys.readouterr().out

    with pytest.raises(SystemExit):
        cli.parse_args(["--layout", "--blobs", "b", "--output", "o"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--word-boxes", "--layout", "--hocr",
                        "--blobs", "b", "--output", "o"])
    with pytest.raises(SystemExit):
        cli.parse_args(["--word-boxes", "--layout", "--tables",
                        "--blobs", "b", "--output", "o"])


def test_session_defaults_fit_the_host(monkeypatch):
    """With neither PMOCR_SPARK_MASTER nor PMOCR_DRIVER_MEM set, the
    session runs local[<CPUs this process may use>] with half the
    physical memory in whole GiB, clamped to 1g..16g; each variable
    still overrides its default. Derived without starting a session."""
    from pmocr_spark.session import host_defaults

    monkeypatch.delenv("PMOCR_SPARK_MASTER", raising=False)
    monkeypatch.delenv("PMOCR_DRIVER_MEM", raising=False)
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    gib = min(max(int(phys / 2 / 2**30), 1), 16)
    assert host_defaults() == (f"local[{len(os.sched_getaffinity(0))}]", f"{gib}g")
    monkeypatch.setenv("PMOCR_SPARK_MASTER", "local[3]")
    monkeypatch.setenv("PMOCR_DRIVER_MEM", "5g")
    assert host_defaults() == ("local[3]", "5g")
