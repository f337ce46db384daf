"""Pins of the CLI's mode dispatch.

- the exact option strings `build_parser` declares;
- for every standalone maintenance mode, the exact last stderr line of
  its "standalone maintenance mode" error and of each "required with"
  error;
- options that only one mode family reads are rejected under any other
  mode (and under --batch);
- the exact stdout summary lines of a few maintenance modes.
"""

from __future__ import annotations

import pytest

from pmocr_spark import cli

OPTION_STRINGS = frozenset(
    """
    --afp-dedup --alerts --append-bloom-index --append-pq-index
    --append-text-index --audit-blobs --batch --blobs --bloom-k --bloom-key-col
    --bloom-m --bpe-min-count --build-bloom-index --build-dedup-index
    --build-pq-index --build-text-index --colloc-min-count --collocations
    --compact-bloom-index --compact-dedup-index --compact-lineage
    --compact-output --compact-substr-index --compress-postings --config
    --corpus-stats --dedup-index --dedup-substrings --dedup-substrings-index
    --delete-input --encode-bpe --encode-unigram --engine --eval-extraction
    --extract-links --extract-markdown --filename-addition --fix-text --hocr
    --input --input-format --ivf-nprobe --job-ts --keyword-method --keywords
    --kwic --kwic-window --layout --layout-files --lineage --lsh-plan --master
    --max-df --merge-dedup-index --metrics --monitor --no-suffix
    --once --optimize-layout --output --output-format
    --pagerank --partition-by --phash-dedup --phash-max-hamming --pq-topk
    --pr-iters --probe-bloom-index --probe-broadcast --probe-dedup-index
    --probe-pq-index --query --raw --rerank-vectors --robots-agent
    --robots-filter --run-id --score-quality --search-phrase --search-text
    --search-topk --service --skip-txt-pdf --snm-dedup --snm-min-jaccard
    --snm-passes --snm-window --spell-fix --srp-dedup
    --stream-checkpoint --substr-k --suffix --summarize --summary-k --tables
    --target-file-mb --targets --text-col --train-bpe --train-codebook
    --train-quality --train-unigram --transcribe-audio --transcribe-video
    --warc-cdx --winnow-dedup --winnow-min-shared --word-boxes -k
    """.split()
)

#: every standalone mode: (its own argv, its required-table groups in the
#: order they are checked). A group of two is one joint message.
STANDALONE = [
    (["--build-dedup-index", "d"], [["--input"]]),
    (["--probe-dedup-index", "d"], [["--input"], ["--output"]]),
    (["--merge-dedup-index", "d"], [["--input"]]),
    (["--compact-dedup-index", "d"], []),
    (["--build-pq-index", "d"], [["--input"]]),
    (["--append-pq-index", "d"], [["--input"]]),
    (["--probe-pq-index", "d"], [["--input"], ["--output"]]),
    (["--build-text-index", "d"], [["--input"]]),
    (["--append-text-index", "d"], [["--input"]]),
    (["--search-text", "d"], [["--query"], ["--output"]]),
    (["--search-phrase", "a b"], [["--input", "--output"]]),
    (["--build-bloom-index", "d"], [["--input"]]),
    (["--append-bloom-index", "d"], [["--input"]]),
    (["--probe-bloom-index", "d"], [["--input"], ["--output"]]),
    (["--compact-bloom-index", "d"], []),
    (["--compact-lineage"], [["--lineage"]]),
    (["--dedup-substrings"], [["--input", "--output"]]),
    (["--compact-substr-index", "d"], []),
    (["--phash-dedup"], [["--blobs", "--output"]]),
    (["--afp-dedup"], [["--blobs", "--output"]]),
    (["--transcribe-audio"], [["--blobs", "--output"]]),
    (["--transcribe-video"], [["--blobs", "--output"]]),
    (["--extract-markdown"], [["--blobs", "--output"]]),
    (["--word-boxes"], [["--blobs", "--output"]]),
    (["--fix-text"], [["--input", "--output"]]),
    (["--spell-fix"], [["--input", "--output"]]),
    (["--keywords", "3"], [["--input", "--output"]]),
    (["--collocations", "3"], [["--input", "--output"]]),
    (["--kwic", "term"], [["--input", "--output"]]),
    (["--srp-dedup"], [["--input", "--output"]]),
    (["--winnow-dedup"], [["--input", "--output"]]),
    (["--snm-dedup"], [["--input", "--output"]]),
    (["--compress-postings"], [["--input", "--output"]]),
    (["--summarize"], [["--input", "--output"]]),
    (["--audit-blobs"], [["--blobs", "--output"]]),
    (["--corpus-stats"], [["--input", "--output"]]),
    (["--train-quality"], [["--input", "--output"]]),
    (["--score-quality", "m"], [["--input", "--output"]]),
    (["--train-bpe", "4"], [["--input", "--output"]]),
    (["--encode-bpe", "m"], [["--input", "--output"]]),
    (["--train-unigram", "8"], [["--input", "--output"]]),
    (["--encode-unigram", "m"], [["--input", "--output"]]),
    (["--extract-links"], [["--blobs", "--output"]]),
    (["--pagerank"], [["--input", "--output"]]),
    (["--robots-filter", "r"], [["--input", "--output"]]),
    (["--eval-extraction", "g"], [["--input", "--output"]]),
    (["--warc-cdx"], [["--input", "--output"]]),
    (["--lsh-plan", "128,0.5"], []),
    (["--optimize-layout", "a,b"], [["--input", "--output"]]),
    (["--compact-output"], [["--input", "--output"]]),
]

_IDS = [argv[0] for argv, _ in STANDALONE]


def _error_line(capsys, argv) -> str:
    with pytest.raises(SystemExit):
        cli.parse_args(argv)
    return capsys.readouterr().err.strip().splitlines()[-1]


def test_option_strings():
    actions = [a for a in cli.build_parser()._actions if a.dest != "help"]
    assert len(actions) == 108
    assert {s for a in actions for s in a.option_strings} == OPTION_STRINGS


@pytest.mark.parametrize("argv", [a for a, _ in STANDALONE if a[0] != "--compact-lineage"],
                         ids=[i for i in _IDS if i != "--compact-lineage"])
def test_standalone_error(capsys, argv):
    for mode in ("--batch", "--service"):
        line = _error_line(capsys, argv + [mode])
        assert line == f"pmocr-spark: error: {argv[0]} is a standalone maintenance mode"


@pytest.mark.parametrize("argv,groups", STANDALONE, ids=_IDS)
def test_required_with_error(capsys, argv, groups):
    for i, group in enumerate(groups):
        given = [x for j, g in enumerate(groups) if j != i for f in g for x in (f, "v")]
        line = _error_line(capsys, argv + given)
        verb = "are" if len(group) > 1 else "is"
        assert line == (
            f"pmocr-spark: error: {' and '.join(group)} {verb} required with {argv[0]}"
        )
    # with every group given the mode parses
    full = [x for g in groups for f in g for x in (f, "v")]
    args = cli.parse_args(argv + full)
    assert args.target_list == [] and args.monitor_list == []


@pytest.mark.parametrize(
    "argv,msg",
    [
        (["--keywords", "3", "--build-dedup-index", "d"],
         "--build-dedup-index and --keywords are separate maintenance modes"),
        (["--train-bpe", "4", "--phash-dedup", "--compact-lineage"],
         "--compact-lineage and --phash-dedup and --train-bpe are separate maintenance modes"),
        (["--service", "--compact-lineage", "--input", "i", "--blobs", "b",
          "--output", "o", "--lineage", "l"],
         "--compact-lineage cannot run under --service: compacting a LIVE stream's "
         "lineage loses retry history on crash-replay of an old epoch — stop the "
         "stream, then run --compact-lineage --lineage DIR standalone"),
        (["--input", "i"], "one of --batch / --service is required (flag or config)"),
        (["--word-boxes", "--blobs", "b", "--output", "o", "--hocr", "--tables"],
         "--tables, --hocr and --layout are mutually exclusive outputs"),
        (["--keywords", "0", "--input", "i", "--output", "o"], "--keywords K must be >= 1"),
        (["--probe-pq-index", "d", "--input", "i", "--output", "o", "--ivf-nprobe", "0"],
         "--ivf-nprobe must be >= 1"),
        (["--search-text", "d", "--query", "q", "--output", "o", "--max-df", "2"],
         "--max-df must be in (0, 1]"),
        (["--srp-dedup", "--input", "i", "--output", "o", "--phash-max-hamming", "65"],
         "--phash-max-hamming must be in 0..64"),
        (["--phash-dedup", "--blobs", "b", "--output", "o", "--phash-max-hamming", "65"],
         "--phash-max-hamming must be in [0, 64]"),
        (["--keywords", "3", "--input", "i", "--output", "o", "--once"],
         "--once is a service-mode reconciliation pass (W4); use with --service"),
        (["--keywords", "3", "--input", "i", "--output", "o", "--monitor", "d=txt"],
         "--monitor requires --service (pmOCR's per-dir OCR_service)"),
        (["--compact-lineage", "--lineage", "l", "--dedup-index", "d"],
         "--dedup-index is the service-mode cross-epoch near-dup pass; "
         "batch runs use the standalone --build/--probe-dedup-index modes"),
        (["--compact-lineage", "--lineage", "l", "--dedup-substrings-index", "d"],
         "--dedup-substrings-index is the service-mode cross-epoch substring pass; "
         "batch corpora use the standalone --dedup-substrings mode"),
        (["--monitor", "d=txt"], "--monitor requires --service (pmOCR's per-dir OCR_service)"),
        (["--service", "--input", "i", "--blobs", "b", "--output", "o", "--lineage", "l",
          "--raw", "r"],
         "--raw is batch-only (no binaryFile streaming source); "
         "service mode consumes parquet document drops"),
    ],
)
def test_other_errors(capsys, argv, msg):
    assert _error_line(capsys, argv) == f"pmocr-spark: error: {msg}"


def test_compact_lineage_is_a_batch_post_step():
    args = cli.parse_args(["--batch", "--compact-lineage", "--input", "i", "--blobs", "b",
                           "--output", "o", "--lineage", "l"])
    assert args.compact_lineage and not args.compact_only


_BATCH = ["--batch", "--input", "i", "--blobs", "b", "--output", "o", "--lineage", "l"]
_KEYWORDS = ["--keywords", "3", "--input", "i", "--output", "o"]
_PHRASE = ["--search-phrase", "a b", "--input", "i", "--output", "o"]


@pytest.mark.parametrize(
    "argv",
    [
        ["--eval-extraction", "g", "--input", "i", "--output", "o", "--robots-agent", "bot"],
        ["--compact-lineage", "--lineage", "l", "--robots-agent", "bot"],
        _KEYWORDS + ["--layout-files", "4"],
        _KEYWORDS + ["--target-file-mb", "64"],
        _PHRASE + ["--query", "q"],
        _PHRASE + ["--max-df", "0.5"],
        ["--build-dedup-index", "d", "--input", "i", "--rerank-vectors", "v"],
        ["--build-dedup-index", "d", "--input", "i", "--train-codebook", "2"],
        ["--build-text-index", "d", "--input", "i", "--pq-topk", "3"],
        _KEYWORDS + ["--substr-k", "4"],
        _KEYWORDS + ["--phash-max-hamming", "3"],
        _BATCH + ["--substr-k", "4"],
        _BATCH + ["--pq-topk", "3"],
        _BATCH + ["--phash-max-hamming", "3"],
        _BATCH + ["--probe-broadcast", "force"],
        _BATCH + ["--text-col", "txt"],
        _KEYWORDS + ["--engine", "tesseract"],
        _KEYWORDS + ["--targets", "txt,csv"],
        _KEYWORDS + ["--job-ts", "2024-02-01T00:00:00Z"],
        _KEYWORDS + ["--run-id", "run-1"],
        _KEYWORDS + ["--suffix", "_X"],
        _KEYWORDS + ["--no-suffix"],
        _KEYWORDS + ["--filename-addition", "_a"],
        _KEYWORDS + ["--metrics", "m"],
        _KEYWORDS + ["--partition-by", "status"],
        _KEYWORDS + ["--output-format", "jsonl"],
        _KEYWORDS + ["--alerts", "a"],
        _KEYWORDS + ["--stream-checkpoint", "c"],
        _BATCH + ["--alerts", "a"],
        _BATCH + ["--stream-checkpoint", "c"],
        ["--service", "--input", "i", "--blobs", "b", "--output", "o", "--lineage", "l",
         "--partition-by", "status"],
    ],
    ids=lambda argv: " ".join(argv[:1] + argv[-2:]),
)
def test_stray_option_rejected(capsys, argv):
    line = _error_line(capsys, argv)
    assert "only appl" in line, line


# ------------------------------------------------------------ summary lines


def test_compress_postings_summary(spark, tmp_path, capsys):
    src, out = str(tmp_path / "docs"), str(tmp_path / "pidx")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "beta gamma gamma"), (3, "alpha")], "doc_id long, text string"
    ).write.parquet(src)
    capsys.readouterr()
    cli.main(["--compress-postings", "--input", src, "--output", out, "--master", "local[2]"])
    assert capsys.readouterr().out.splitlines()[-1] == (
        "pmocr-spark: 5 postings -> 5 payload bytes (0.125x of raw 8-byte ids; "
        f"decode round-trip ok) written to {out}"
    )


def _blob_table(spark, path, rows):
    spark.createDataFrame(rows, "media_ref string, kind string, content binary") \
        .write.parquet(path)


def test_audit_blobs_summary(spark, tmp_path, capsys):
    from pmocr_spark import codecs

    blobs, out = str(tmp_path / "blobs"), str(tmp_path / "audit")
    _blob_table(spark, blobs, [
        ("ok", "tiff", codecs.encode_image("fine", "tiff", salt="a")),
        ("mislabel", "tiff", codecs.encode_audio("oops", salt="e")),
        ("nullblob", "pdf", None),
    ])
    capsys.readouterr()
    cli.main(["--audit-blobs", "--blobs", blobs, "--output", out, "--master", "local[2]"])
    assert capsys.readouterr().out.splitlines() == [
        "pmocr-spark: audit kind=pdf detected=missing ok=False n=1",
        "pmocr-spark: audit kind=tiff detected=audio ok=False n=1",
        "pmocr-spark: audit kind=tiff detected=img ok=True n=1",
        f"pmocr-spark: audit wrote 2 mismatched blobs to {out}",
    ]


@pytest.mark.parametrize("what", ["audio", "video"])
def test_transcribe_summary(spark, tmp_path, capsys, what):
    from pmocr_spark import codecs

    good = (codecs.encode_audio("hello there", salt="a") if what == "audio"
            else codecs.encode_video(["scene one"], hold=1, salt="a"))
    blobs, out = str(tmp_path / "blobs"), str(tmp_path / "out")
    _blob_table(spark, blobs, [
        ("good", what, good),
        ("bad", what, codecs.encode_corrupt("bad")),
    ])
    capsys.readouterr()
    cli.main([f"--transcribe-{what}", "--blobs", blobs, "--output", out,
              "--master", "local[2]"])
    assert capsys.readouterr().out.splitlines()[-1] == (
        f"pmocr-spark: transcribed 1 {what} blobs (1 failed as error rows) to {out}"
    )


@pytest.mark.parametrize(
    "extra,label",
    [([], "word boxes"), (["--hocr"], "hOCR documents"), (["--tables"], "table cells")],
)
def test_word_boxes_summary(spark, tmp_path, capsys, extra, label):
    from pmocr_spark import codecs

    blobs, out = str(tmp_path / "blobs"), str(tmp_path / "out")
    _blob_table(spark, blobs, [
        ("img", "tiff", codecs.encode_image("one two\nthree", "tiff", salt="a")),
        ("bad", "tiff", codecs.IMG_MAGIC + b"\x00\x01"),
    ])
    capsys.readouterr()
    cli.main(["--word-boxes", *extra, "--blobs", blobs, "--output", out,
              "--master", "local[2]"])
    n_ok = spark.read.parquet(out).filter("error is null").count()
    assert n_ok > 0
    assert capsys.readouterr().out.splitlines()[-1] == (
        f"pmocr-spark: {n_ok} {label} (1 undecodable blobs as error rows) to {out}"
    )
