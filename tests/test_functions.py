"""Scalar function library (X1-X10) unit tests vs reference semantics."""

from __future__ import annotations

from pyspark.sql import functions as F

from pmocr_spark import functions as X


def _one(spark, col, value):
    df = spark.createDataFrame([(value,)], "v string")
    return df.select(col(F.col("v")).alias("r")).collect()[0]["r"]


def test_csv_hack(spark):
    assert _one(spark, X.csv_hack, "a  b   c d") == "a;b;c d"


def test_output_name(spark):
    df = spark.createDataFrame([("report",)], "v string")
    got = df.select(
        X.output_name(F.col("v"), "2024-01-01T00-00-00Z", "_OCR", ".pdf").alias("r")
    ).collect()[0]["r"]
    assert got == "report_2024-01-01T00-00-00Z_OCR.pdf"


def test_canonical_url_rules(spark):
    cases = [
        # scheme+host lower, userinfo strip, www strip, default port
        # drop, // collapse, trailing-slash strip, tracking-param drop,
        # param sort, fragment drop
        (
            "HTTP://User:pw@WWW.ExAmple.COM:80/Docs/3//?page=2&utm_source=f&z=9#s",
            "http://example.com/Docs/3?page=2&z=9",
        ),
        # https default port dropped; trailing slash on non-root path
        ("https://www.Example.com:443/a/b/?z=9&ref=tw&page=1",
         "https://example.com/a/b?page=1&z=9"),
        # non-default port kept; empty path -> '/'; all params dropped
        ("Http://example.com:8080?utm_campaign=x", "http://example.com:8080/"),
        # root path collapses to '/'
        ("https://EXAMPLE.com///", "https://example.com/"),
        # :80 preserved under https (non-default for that scheme)
        ("https://a.com:80/x", "https://a.com:80/x"),
        # path case preserved (paths are case-sensitive)
        ("http://a.com/CaseSensitive", "http://a.com/CaseSensitive"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r["c"] for r in df.select(X.canonical_url("u").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_canonical_url_is_codegen_only(spark):
    # the whole normalization must stay a JVM map expression — no
    # Python in the hot path at 10^12 rows
    df = spark.range(4).select(
        F.concat(F.lit("http://h/"), F.col("id").cast("string")).alias("u")
    )
    plan = df.select(X.canonical_url("u").alias("c"))._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dehyphenate(spark):
    cases = [
        # hyphenated line break joins (the OCR wrap repair)
        ("exam-\nple", "example"),
        # trailing indent after the break is absorbed
        ("exam-\n  ple", "example"),
        # mid-line compound hyphen untouched (no newline follows)
        ("well-known fact", "well-known fact"),
        # uppercase continuation = genuine compound across the break
        ("Jean-\nPaul", "Jean-\nPaul"),
        # digits join like letters
        ("route6-\n6a", "route66a"),
        # plain line break untouched (reflow's job, not ours)
        ("one\ntwo", "one\ntwo"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r["c"] for r in df.select(X.dehyphenate("t").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_reflow(spark):
    cases = [
        # single hard-wrap -> space
        ("line one\nline two", "line one line two"),
        # consecutive single wraps all flatten (no consume-gap artifact)
        ("a\nb\nc", "a b c"),
        # blank line = paragraph boundary, preserved as exactly one
        ("para one\n\npara two", "para one\n\npara two"),
        # >2 newlines normalize to one paragraph break
        ("p1\n\n\n\np2", "p1\n\np2"),
        # mixed: wraps inside paragraphs flatten, boundary survives
        ("a\nb\n\nc\nd", "a b\n\nc d"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "t string")
    got = [r["c"] for r in df.select(X.reflow("t").alias("c")).collect()]
    assert got == [want for _, want in cases]


def test_reflow_sentinel_absent_from_corpus():
    # reflow hides paragraph breaks behind \x00 (X.REFLOW_SENTINEL); a
    # corpus document containing that byte would corrupt the restore —
    # pin its absence the way the BPE oracle pins chr(31)
    import duckdb

    assert X.REFLOW_SENTINEL == "\x00"
    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('/root/testdata/sf{sf}/documents.parquet') "
            "WHERE contains(text, chr(0))"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} documents contain the reflow sentinel"


def test_ocr_textrepair_is_codegen_only(spark):
    # the dehyphenate+reflow repair chain must stay a JVM map
    # expression — zero Python, zero shuffles at 10^12 docs
    df = spark.range(4).select(
        F.concat(F.lit("ab-\ncd\nef\n\ngh"), F.col("id").cast("string")).alias("t")
    )
    q = df.select(X.reflow(X.dehyphenate("t")).alias("c"))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan


def test_ocr_repair_inverts_wrap_on_generated_corpus(spark):
    """Bulk inversion property behind q40 ocrfix: for 200 seeded random
    word streams (word lengths 1-12 incl. the 5/6 split-threshold
    boundary, digits mixed in, 1-word and 100-word docs), hyphen-wrap
    scaffold -> dehyphenate -> reflow reproduces the text exactly."""
    import numpy as np

    rng = np.random.default_rng(7)
    alpha = "abcdefghijklmnopqrstuvwxyz0123456789"
    texts = []
    for i in range(200):
        n_words = int(rng.integers(1, 101)) if i else 1
        words = [
            "".join(alpha[j] for j in rng.integers(0, len(alpha), size=int(rng.integers(1, 13))))
            for _ in range(n_words)
        ]
        texts.append(" ".join(words))
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    ws = F.split("text", " ")
    nch = F.floor((F.size(ws) + F.lit(7)) / F.lit(8)).cast("int")
    broken = F.transform(
        ws,
        lambda w: F.when(
            F.length(w) >= 6,
            F.concat(F.substring(w, 1, 3), F.lit("-\n"), F.substring(w, 4, 2147483647)),
        ).otherwise(w),
    )
    wrapped = F.array_join(
        F.transform(
            F.sequence(F.lit(0), nch - 1),
            lambda i: F.array_join(F.slice(broken, i * 8 + 1, 8), " "),
        ),
        "\n",
    )
    fixed = X.reflow(X.dehyphenate(wrapped))
    bad = df.filter(fixed != F.col("text")).count()
    assert bad == 0


def test_split_sentences(spark):
    cases = [
        ("one two three. four five! six seven? eight.",
         ["one two three.", "four five!", "six seven?", "eight."]),
        ("double end!!  spaced   start.", ["double end!!", "spaced   start."]),
        ("no terminal punctuation at all", ["no terminal punctuation at all"]),
        ("pi is 3.14 not 3. 15", ["pi is 3.14 not 3.", "15"]),  # regex, not NLP
        ("", [""]),
    ]
    df = spark.createDataFrame([(t,) for t, _ in cases], "text string")
    got = {r["text"]: r["s"] for r in
           df.select("text", X.split_sentences("text").alias("s")).collect()}
    for text, want in cases:
        assert got[text] == want, (text, got[text])


def test_fix_mojibake(spark):
    # classic UTF-8-bytes-read-as-Latin-1 artifacts and their repairs;
    # pure-ASCII and non-Latin-1 inputs are fixed points
    hello = "h\u00e9llo w\u00f6rld"
    moji = hello.encode("utf-8").decode("latin-1")  # 'hÃ©llo wÃ¶rld'
    cases = [
        (moji, hello, 1),
        ("plain ascii text", "plain ascii text", 0),
        ("emoji \U0001f389 stays", "emoji \U0001f389 stays", 0),  # > U+FF: skipped
        ("lone \u00c3( invalid", "lone \u00c3( invalid", 0),  # C3 28 not valid UTF-8
        ("", "", 0),
    ]
    df = spark.createDataFrame([(t,) for t, _, _ in cases], "text string")
    got = {
        r["text"]: (r["f"], r["m"])
        for r in df.select(
            "text",
            X.fix_mojibake("text").alias("f"),
            X.is_mojibake("text").alias("m"),
        ).collect()
    }
    for t, want, flag in cases:
        assert got[t] == (want, flag), (t, got[t])


def test_fix_mojibake_double_encoding_needs_two_passes(spark):
    # doubly-mojibake'd text (encoded/misdecoded twice) repairs one
    # layer per application — documented behavior, matching ftfy
    hello = "caf\u00e9"
    double = hello.encode("utf-8").decode("latin-1").encode("utf-8").decode("latin-1")
    df = spark.createDataFrame([(double,)], "text string")
    once = df.select(X.fix_mojibake("text").alias("f")).collect()[0]["f"]
    assert once == hello.encode("utf-8").decode("latin-1")
    twice = df.select(X.fix_mojibake(X.fix_mojibake("text")).alias("f")).collect()[0]["f"]
    assert twice == hello


def test_nfc_normalize(spark):
    from pmocr_spark.functions import nfc_normalize

    rows = [
        ("étude",),        # decomposed -> composed
        ("café",),          # already NFC: fixed point
        ("à õ",),    # two combining marks
        ("plain ascii",),
        (None,),
    ]
    df = spark.createDataFrame(rows, "t string")
    out = [r["n"] for r in df.select(nfc_normalize("t").alias("n")).collect()]
    assert out[0] == "étude" and len(out[0]) == 5
    assert out[1] == "café"
    assert out[2] == "à õ" and len(out[2]) == 3
    assert out[3] == "plain ascii"
    assert out[4] is None
    # idempotent
    out2 = [r["n"] for r in df.select(nfc_normalize(nfc_normalize("t")).alias("n")).collect()]
    assert out2[:4] == out[:4]
