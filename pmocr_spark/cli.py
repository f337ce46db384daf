"""spark-submit entry point — flag parity with pmOCR (F7-F10, S3).

pmOCR CLI (Usage, /root/reference/pmocr.sh:2296-2343): --batch/--service,
-p/--target=pdf, -t/--target=txt, -c/--target=csv, -k/--skip-txt-pdf,
-d/--delete-input, --suffix=, --no-suffix, --text=/--filename-addition=.
Mapped here onto the table-native equivalents.

Config-file source (S3) with CLI override (F10): `--config FILE` loads
key=value lines (or a JSON object) BEFORE argument parsing, mirroring
LoadConfigFile (pmocr.sh:685-715) — including its revision gate
(CONFIG_FILE_REVISION, pmocr.sh:692-698): a config whose
`config_revision` major differs from CONFIG_REVISION is rejected.
Explicit CLI flags win over config values, which win over built-in
defaults (the reference runs GetCommandlineArguments twice around
LoadConfigFile for the same effect, pmocr.sh:2409/2423).

Usage:
  spark-submit --py-files pmocr_spark.zip -m pmocr_spark.cli \\
      --batch --config job.conf --input DIR --blobs DIR --output DIR \\
      --lineage DIR --targets txt,csv --job-ts 2024-01-01T00:00:00Z
"""

from __future__ import annotations

import argparse
import json
from functools import partial
from typing import Callable, NamedTuple

from pyspark.sql import functions as F

#: supported revision major of config files (LoadConfigFile analog)
CONFIG_REVISION = "1"

#: pmOCR's five output targets (pmocr.sh:2546-2593). docx/xlsx exist in
#: the reference but are ABBYY-engine-only (pmocr.sh:2571-2581,
#: default.conf:122-126); the tesseract-analog engine here rejects them
#: with a clear message rather than silently ignoring the flag.
SUPPORTED_TARGETS = ("txt", "csv", "pdf")
ABBYY_ONLY_TARGETS = ("docx", "xlsx")


def load_config(path: str) -> dict:
    """Parse a config file: JSON object, or pmOCR-style KEY=value lines
    (comments with '#', optional surrounding quotes on values)."""
    with open(path) as f:
        raw = f.read()
    stripped = raw.lstrip()
    if stripped.startswith("{"):
        # JSON keys get the SAME normalization as key=value files
        # ('span-join' -> 'span_join'); a JSON list value (natural for
        # e.g. targets) is joined to the comma form the CLI parses —
        # EXCEPT 'monitor', whose specs may themselves contain commas
        # (DIR=txt,csv): its list structure is preserved end-to-end so
        # no re-splitting heuristic is needed for JSON configs
        cfg = {}
        for k, v in json.loads(raw).items():
            k = k.strip().lower().replace("-", "_")
            if isinstance(v, (list, tuple)) and k != "monitor":
                v = ",".join(str(x) for x in v)
            cfg[k] = v
    else:
        cfg = {}
        for line in raw.splitlines():
            line = line.strip()
            if not line or line.startswith("#") or "=" not in line:
                continue
            k, v = line.split("=", 1)
            v = v.strip().strip("'\"")
            cfg[k.strip().lower().replace("-", "_")] = v
    rev = str(cfg.pop("config_revision", CONFIG_REVISION))
    if rev.split(".")[0] != CONFIG_REVISION:
        raise SystemExit(
            f"config revision {rev} unsupported (expected {CONFIG_REVISION}.x) — "
            "see pmOCR's CONFIG_FILE_REVISION gate (pmocr.sh:692-698)"
        )
    return cfg


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="pmocr-spark")
    p.add_argument("--config", help="config file (key=value or JSON); CLI wins")
    mode = p.add_mutually_exclusive_group()
    mode.add_argument("--batch", action="store_true", help="bounded batch run")
    mode.add_argument(
        "--service", action="store_true",
        help="streaming monitor mode (pmOCR --service)",
    )
    p.add_argument("--input", help="documents table / landing dir (parquet)")
    p.add_argument("--blobs", help="media_blobs table (parquet)")
    p.add_argument(
        "--raw", metavar="DIR",
        help="batch mode: ingest a RAW directory tree of media files (pmOCR's native input, "
        "`pmocr.sh --batch -c /some/path`) instead of --input/--blobs parquet tables — files "
        "are listed with the extension allow-list pushed into the scan (binaryFile "
        "pathGlobFilter; sources/binary.py) and lifted to one-span documents. Batch-only: "
        "Spark has no binaryFile streaming source, so service mode consumes parquet document "
        "drops.",
    )
    p.add_argument("--output", help="results table dir")
    p.add_argument("--lineage", help="checkpoint/lineage table dir")
    p.add_argument(
        "--targets",
        help="comma list of txt,csv,pdf (pmOCR default: pdf, pmocr.sh:2449-2451; ours: txt — all "
        "targets derive from one OCR pass either way)",
    )
    p.add_argument("--run-id")
    p.add_argument(
        "--job-ts",
        help="fixed job timestamp for output naming/lineage (never wall clock)",
    )
    p.add_argument(
        "--suffix",  # real default lives in _DEFAULTS (config must be able to override it)
        help="output-name suffix (pmOCR --suffix=, default _OCR, pmocr.sh:2312-2315)",
    )
    p.add_argument(
        "--no-suffix", action="store_true",
        help="no output-name suffix (pmOCR --no-suffix)",
    )
    p.add_argument(
        "--filename-addition",
        help="output-name addition between stem and suffix (pmOCR --text=/--filename-addition=, "
        "pmocr.sh:2316-2321); default: _<job-ts>",
    )
    p.add_argument(
        "--delete-input", action="store_true",
        help="accepted for pmOCR flag parity (-d); a no-op here — input tables are immutable and "
        "the lineage anti-join already excludes processed docs (the table-native analog of "
        "deleting the input)",
    )
    p.add_argument(
        "-k", "--skip-txt-pdf", action="store_true",
        help="accepted for pmOCR flag parity (-k/--skip-txt-pdf, pmocr.sh:2352-2356 / CHECK_PDF in "
        "default.conf); a no-op here — the searchable-text bypass (F5) is ALWAYS on: text "
        "spans never enter the OCR path (pipeline.extract_spans routes them to JVM "
        "normalization), which is semantically stronger than the reference's optional "
        "pdffonts probe",
    )
    p.add_argument(
        "--metrics",
        help="per-partition skew report dir: writes checkpoint.partition_metrics over the full "
        "lineage table — after each batch run, or after every epoch in service mode "
        "(per-monitor subdirs with --monitor). The north-rule observability story "
        "(docs/spans/errors per partition proves the salted repartition broke media-heavy-doc "
        "skew)",
    )
    p.add_argument(
        "--monitor", action="append", metavar="DIR=TARGETS",
        help="repeatable, service mode: per-dir monitor with its own target set — pmOCR runs one "
        "OCR_service subshell per configured dir, each hard-wired to one output format (W7, "
        "pmocr.sh:2519-2537). Each DIR gets an INDEPENDENT streaming query (own epoch clock, "
        "own exactly-once seen-map) sharing one SparkSession; its "
        "output/lineage/offsets/alerts land under <output>/<name>/ etc., where <name> is the "
        "dir basename. TARGETS is a comma list (txt,csv,pdf). With --monitor given, --input "
        "is not required. In a config file use a JSON list of specs or a ';'-separated "
        "string.",
    )
    p.add_argument(
        "--compact-lineage", action="store_true",
        help="batch mode: after the run, rewrite the lineage table to latest-row-per-doc "
        "(checkpoint.compact_checkpoint). Append-only lineage grows one row per doc per run; "
        "every resume re-scans it — compaction bounds it at one row per doc with identical "
        "resume/retry semantics. Run with no concurrent writer.",
    )
    p.add_argument(
        "--build-dedup-index", metavar="DIR",
        help="maintenance mode (standalone, like --compact-lineage): build the banded-MinHash "
        "dedup index over --input documents and persist it (with its params sidecar) at DIR "
        "(operators/dedup_index.build_index/write_index)",
    )
    p.add_argument(
        "--probe-dedup-index", metavar="DIR",
        help="maintenance mode: probe the --input batch against the persisted index at DIR (params "
        "from its sidecar) and write (doc_id, dup_of, n_bands) hits to --output",
    )
    p.add_argument(
        "--merge-dedup-index", metavar="DIR",
        help="maintenance mode: band the --input batch with the index's persisted params and merge "
        "it into DIR append-cheap (no O(index) cap pass — run --compact-dedup-index "
        "periodically)",
    )
    p.add_argument(
        "--compact-dedup-index", metavar="DIR",
        help="maintenance mode: re-apply the hot-bucket cap over the whole index at DIR (the "
        "periodic compaction that keeps steady-state merges cheap) and rewrite it in place",
    )
    p.add_argument(
        "--build-pq-index", metavar="DIR",
        help="maintenance mode: PQ-encode the --input embeddings table (vec_id, embedding) and "
        "persist codes + codebook sidecar at DIR (operators/pq.write_pq_index; 32x "
        "compression — the encode pass reads every raw vector ONCE, then searches probe the "
        "8-byte codes)",
    )
    p.add_argument(
        "--append-pq-index", metavar="DIR",
        help="maintenance mode: encode the --input batch against the index's SIDECAR codebook and "
        "append its codes to DIR — per-vector codes are independent, so growth is pure append "
        "(no merge/compaction pass; vec_ids must be new)",
    )
    p.add_argument(
        "--probe-pq-index", metavar="DIR",
        help="maintenance mode: ADC top-k search of the --input query embeddings against the codes "
        "at DIR; writes (query_id, neighbor_id, rk, dist_int) to --output. "
        "Compressed-distance ranks only — pass --rerank-vectors to rerank the shortlist with "
        "exact cosine (the q21 production shape)",
    )
    p.add_argument(
        "--rerank-vectors", metavar="PATH",
        help="--probe-pq-index: raw embeddings table (the index stores codes only); the ADC "
        "shortlist is reranked by exact cosine over just these vectors and the output gains a "
        "cos_sim column",
    )
    p.add_argument(
        "--pq-topk", type=int,
        help="--probe-pq-index: neighbors per query (default 5 reranked; shortlist size without "
        "--rerank-vectors)",
    )
    p.add_argument(
        "--train-codebook", type=int, nargs="?", const=2, metavar="ITERS",
        help="--build-pq-index: refine the deterministic seed codebook with ITERS per-subspace "
        "Lloyd iterations (default 2) before encoding — the PQ recall lever (distortion drops "
        "~25%% on the test corpus); the trained codebook persists in the sidecar, so appends "
        "and probes need no flag. At 10^12 vectors train on a sample of --input, not the full "
        "corpus",
    )
    p.add_argument(
        "--ivf-nprobe", type=int,
        help="--probe-pq-index: route each query to its N nearest IVF clusters and ADC-scan ONLY "
        "those codes (the FAISS IndexIVFPQ shape — pair count |queries| x probed clusters, "
        "not x corpus). THE recall/cost knob: higher N buys recall with more scanned codes "
        "(per-round curve in BENCH/BASELINE.md). Requires an index built by this version "
        "(--build-pq-index persists per-code cluster ids); omit for the exhaustive compressed "
        "scan",
    )
    p.add_argument(
        "--build-bloom-index", metavar="DIR",
        help="maintenance mode: build the Bloom membership pre-filter over the --input table's "
        "--bloom-key-col content hashes and persist set-bit positions + (m,k) geometry "
        "sidecar at DIR (operators/bloom; the cheap first tier of incremental dedup — probe "
        "answers 'definitely new' with zero shuffle)",
    )
    p.add_argument(
        "--append-bloom-index", metavar="DIR",
        help="maintenance mode: add the --input batch's positions to the filter at DIR (Bloom OR "
        "== pure append of position rows; geometry comes from the sidecar and a mismatch is "
        "refused). Run --compact-bloom-index periodically to drop duplicates",
    )
    p.add_argument(
        "--probe-bloom-index", metavar="DIR",
        help="maintenance mode: membership-test the --input batch against the filter at DIR; "
        "writes the input columns + (n_set, maybe_member) to --output. maybe_member=0 is "
        "definitive (no false negatives) — only the maybe rows need the exact "
        "--probe-dedup-index pass",
    )
    p.add_argument(
        "--compact-bloom-index", metavar="DIR",
        help="maintenance mode: rewrite the filter at DIR to distinct positions (appends "
        "accumulate duplicates; compaction makes the probe-side dedup free)",
    )
    p.add_argument(
        "--bloom-m", type=int,
        help="--build-bloom-index: filter bits (default 65536; size with m ~= 9.6n for 1%% FP at n "
        "expected members)",
    )
    p.add_argument(
        "--bloom-k", type=int,
        help="--build-bloom-index: hash functions (default 4; 7 pairs with the 1%% FP sizing)",
    )
    p.add_argument(
        "--bloom-key-col", metavar="COL",
        help="--{build,append,probe}-bloom-index: column whose md5 is the membership key (default "
        "text)",
    )
    p.add_argument(
        "--build-text-index", metavar="DIR",
        help="maintenance mode: build the persisted BM25 inverted index over the --input documents "
        "table at DIR (operators/bm25.write_text_index: postings/dl/df subtables + stats "
        "sidecar)",
    )
    p.add_argument(
        "--append-text-index", metavar="DIR",
        help="maintenance mode: tokenize the --input batch with the index's sidecar params and "
        "append — postings/dl/df are additive over disjoint doc_id batches, so growth is pure "
        "append (no merge pass); sidecar stats accumulate",
    )
    p.add_argument(
        "--search-text", metavar="DIR",
        help="maintenance mode: BM25 top-k search of --query against the index at DIR; writes "
        "(query_id, doc_id, rk, score_u) to --output",
    )
    p.add_argument(
        "--query",
        help="--search-text: comma-separated queries, whitespace-separated terms (lowercased + "
        "deduplicated per query, the index tokenizer's normalization)",
    )
    p.add_argument(
        "--search-phrase", metavar="PHRASES",
        help="maintenance mode (standalone): exact-phrase retrieval (operators/bm25.phrase_search "
        "— positional postings, consecutive-token adjacency; the decontamination query) of "
        "comma-separated phrases against the --input documents table; writes (query_id, "
        "doc_id, n_matches, rk) to --output (query_id = phrase position in the list)",
    )
    p.add_argument(
        "--search-topk", type=int,
        help="--search-text / --search-phrase: results per query (default 5)",
    )
    p.add_argument(
        "--max-df", type=float,
        help="--search-text: drop query terms whose document frequency exceeds this fraction of "
        "the corpus (stop-term cap — bounds posting-list fan-out on hot terms)",
    )
    p.add_argument(
        "--compact-substr-index", metavar="DIR",
        help="maintenance mode: rewrite the cross-epoch gram index at DIR "
        "(--dedup-substrings-index) to distinct gram hashes — epochs append their gram sets "
        "verbatim, so periodic compaction reclaims the cross-epoch overlap. Stop the stream "
        "first: compacted rows read as epoch-less (visible to every epoch), so compacting "
        "under a live stream changes a replayed epoch's verdicts.",
    )
    p.add_argument(
        "--dedup-substrings", action="store_true",
        help="maintenance mode (standalone, like --compact-lineage): remove cross-document "
        "duplicated spans of >= K words from the --input documents table (exact substring "
        "dedup, keep-first policy; operators/substring_dedup.py) and write the cleaned table "
        "— text replaced, n_words/n_kept/n_removed appended — to --output",
    )
    p.add_argument(
        "--phash-dedup", action="store_true",
        help="maintenance mode (standalone): perceptual-hash visual near-dup over the --blobs "
        "image table — 64-bit pHash per blob, banded-hamming pair join "
        "(operators/multimodal.phash_near_dup) — writing (ref_a, ref_b, hamming) pairs to "
        "--output",
    )
    p.add_argument(
        "--transcribe-audio", action="store_true",
        help="maintenance mode (standalone): full audio decode over the --blobs table "
        "(operators/multimodal.audio_transcribe: synthetic codec with frame/parity "
        "validation; a real ASR engine slots into decode_audio_real) — writing (media_ref, "
        "text, sample_rate, duration_sec, error) to --output; corrupted blobs land in the "
        "error column, never fail the run",
    )
    p.add_argument(
        "--transcribe-video", action="store_true",
        help="maintenance mode (standalone): full video decode over the --blobs table "
        "(operators/multimodal.video_transcribe: per-frame OCR + held-scene collapse; a real "
        "captioning engine slots into decode_video_real) — writing (media_ref, text, fps, "
        "n_frames, duration_sec, error) to --output; corrupted blobs land in the error "
        "column, never fail the run",
    )
    p.add_argument(
        "--train-quality", action="store_true",
        help="maintenance mode (standalone): train the quality classifier "
        "(operators/quality_classifier.py — full-batch logistic regression, exact integer "
        "gradients) on the --input flat documents table and persist the model (weights + "
        "training standardization stats) to --output as a _lr_model.json sidecar",
    )
    p.add_argument(
        "--score-quality", metavar="MODELDIR",
        help="maintenance mode (standalone): score the --input flat documents table under a model "
        "trained by --train-quality — features standardize with the model's TRAINING stats "
        "(never recomputed), writing input columns + lr_quality + keep_quality to --output; "
        "one map-only pass, the model rides the plan as literals",
    )
    p.add_argument(
        "--extract-markdown", action="store_true",
        help="maintenance mode (standalone): structure-preserving extraction of the HTML blobs in "
        "the --blobs table (operators/html_extract.to_markdown + extract_tables) — writing "
        "(media_ref, markdown, tables, n_blocks, n_tables) to --output; non-HTML blobs are "
        "skipped by content magic (sniff_html), exactly like the fused pipeline's dispatch",
    )
    p.add_argument(
        "--word-boxes", action="store_true",
        help="maintenance mode (standalone): hOCR/TSV-style layout geometry for the image/pdf "
        "blobs in the --blobs table (codecs.recognize_words) — one row per recognized word "
        "(media_ref, line_no, word_no, word, x0, y0, x1, y1, error) written to --output; x "
        "comes from the image's decoded ink-column mask. Non-image blobs are skipped by "
        "content magic; undecodable image blobs land as error rows (tesseract's hocr/tsv "
        "output configs; the reference forwards engine layout containers untouched, "
        "pmocr.sh:1923-1963)",
    )
    p.add_argument(
        "--hocr", action="store_true",
        help="with --word-boxes: write one hOCR XHTML document per blob (media_ref, hocr, n_words, "
        "error) instead of per-word rows — the container tesseract's hocr config emits "
        "(codecs.to_hocr)",
    )
    p.add_argument(
        "--tables", action="store_true",
        help="with --word-boxes: geometric table reconstruction (codecs.detect_table — full-height "
        ">=2px whitespace channels as column separators, the csv hack's 2-space rule made "
        "layout-true): one row per cell (media_ref, row_no, col_no, cell, x0, y0, x1, y1, "
        "error)",
    )
    p.add_argument(
        "--layout", action="store_true",
        help="with --word-boxes: recursive XY-cut layout analysis (codecs.xy_cut — Nagy/Seth "
        "top-down page segmentation, tesseract --psm 1/3 analog): one row per reading-order "
        "block (media_ref, block_no, n_lines, text, error)",
    )
    p.add_argument(
        "--lsh-plan", metavar="N_HASHES,THRESHOLD[,FP_W[,FN_W]]",
        help="maintenance mode (standalone, no Spark session): print the best MinHash-LSH (bands, "
        "rows) factorization of an N_HASHES signature for a target Jaccard THRESHOLD as one "
        "JSON line (operators/lsh_plan.py — S-curve FP/FN area minimization, MMDS §3.4; "
        "FP_W/FN_W weight wasted-verification vs missed-duplicate cost, default 1,1). Size "
        "--dedup-index before building it",
    )
    p.add_argument(
        "--optimize-layout", metavar="COL_A,COL_B",
        help="maintenance mode (standalone): rewrite the --input table z-ordered on two numeric "
        "columns (operators/zorder.py — Morton bit-interleave of 8-bit min/max-scaled "
        "buckets, the Delta/Iceberg OPTIMIZE ZORDER BY move): one range shuffle, every output "
        "file covers a contiguous z-range, so parquet min/max stats prune later scans on "
        "EITHER column — partition pruning without physical partitioning",
    )
    p.add_argument(
        "--layout-files", type=int,
        help="--optimize-layout output file count (default 16)",
    )
    p.add_argument(
        "--compact-output", action="store_true",
        help="maintenance mode (standalone): compact a results directory's many small parquet "
        "files (service mode lands one small file set per micro-batch epoch — the classic "
        "streaming small-file problem) into ~--target-file-mb files: recursive read (epoch-*/ "
        "subdirs included), size-derived file count, hash-repartition + in-partition sort on "
        "the table's key column so the row->file assignment is deterministic",
    )
    p.add_argument(
        "--target-file-mb", type=int,
        help="--compact-output target file size in MB (default 128 — the parquet/HDFS block-sized "
        "sweet spot for scan parallelism)",
    )
    p.add_argument(
        "--input-format", choices=('parquet', 'jsonl', 'warc', 'orc'), default="parquet",
        help="format of --input and --blobs in batch AND service modes (default parquet; jsonl "
        "reads web-pipeline interchange shards with EXPLICIT schemas — no inference scan — "
        "and base64 media payloads via sources/jsonl.py; service-mode landing dirs then take "
        ".jsonl drops; warc reads Web ARChive crawl shards from --input — documents AND blobs "
        "both derive from the records, --blobs is ignored; batch mode only, shards are the "
        "parallelism unit — sources/warc.py; orc reads Hive/ORC interchange tables via "
        "Spark's native vectorized reader — blobs stay ORC BINARY, no transcoding — and "
        "service landing dirs then take .orc drops with the same explicit schema)",
    )
    p.add_argument(
        "--output-format", choices=('parquet', 'jsonl', 'wet', 'orc'), default="parquet",
        help="batch-mode results format (jsonl base64-encodes binary target columns so lines stay "
        "valid JSON; wet writes CommonCrawl-style extracted-text shards — gzip WARC "
        "conversion records of the done docs' txt target, sources/warc.write_wet; orc writes "
        "the results as Hive/ORC with binary targets as native ORC BINARY — composes with "
        "--partition-by; lineage still records every doc)",
    )
    p.add_argument(
        "--corpus-stats", action="store_true",
        help="maintenance mode (standalone): corpus datasheet over the --input documents table "
        "(operators/corpus_stats.py — sizes, approx token distribution, language mix, approx "
        "dup rate, top words; one cached scan + sketch aggregates) written as JSON to "
        "--output",
    )
    p.add_argument(
        "--audit-blobs", action="store_true",
        help="maintenance mode (standalone): ingest integrity audit of the --blobs table — detect "
        "each blob's container by MAGIC (PMIMG1/PMPDF1/PMAU/PMVI/html sniff) and compare "
        "against its declared kind column, writing the mismatch rows (media_ref, kind, "
        "detected) to --output and printing per-(kind, detected) counts; pure codegen "
        "head-byte expressions, no Python, no full-blob reads beyond the scan",
    )
    p.add_argument(
        "--fix-text", action="store_true",
        help="maintenance mode (standalone): OCR text repair over the --input table's --text-col "
        "column (functions.dehyphenate + functions.reflow: hyphenated line-break joins, "
        "hard-wrap reflow preserving blank-line paragraphs) — writes the table with the "
        "column repaired plus n_hyphens_repaired / n_breaks_reflowed counters; pure codegen "
        "regexps, map-only",
    )
    p.add_argument(
        "--text-col", default="text",
        help="column repaired by --fix-text / --spell-fix (default: text; use txt for "
        "batch-results tables)",
    )
    p.add_argument(
        "--keywords", metavar="K", type=int,
        help="maintenance mode (standalone): per-document tf-idf keyword extraction "
        "(operators/keywords.py) — the top-K most distinctive terms of every --input row's "
        "--text-col, scored round(1e6*tf*ln(N/df)) (integer micro-units, term-asc tie-break), "
        "written to --output as (doc_id, term, tf, df, score_micro, rank); with "
        "--keyword-method rake, top-K RAKE keyword PHRASES instead (Rose et al. 2010, "
        "operators/keywords.rake_topk) as (doc_id, phrase, score_u, rank)",
    )
    p.add_argument(
        "--keyword-method", choices=('tfidf', 'rake'),
        help="scoring method for --keywords (default tfidf)",
    )
    p.add_argument(
        "--collocations", metavar="K", type=int,
        help="maintenance mode (standalone): top-K collocations of the --input table's --text-col "
        "by BOTH association statistics — PMI (Church & Hanks CL'90) and Dunning's "
        "log-likelihood ratio (CL'93), operators/corpus_stats.pmi_topk/llr_topk — written to "
        "--output as (method, bigram, cnt, score_micro)",
    )
    p.add_argument(
        "--colloc-min-count", metavar="N", type=int,
        help="minimum bigram count for --collocations (default 10; PMI is noisy on rare pairs)",
    )
    p.add_argument(
        "--kwic", metavar="TERM",
        help="maintenance mode (standalone): keyword-in-context concordance "
        "(operators/keywords.kwic) — every occurrence of TERM in the --input table's "
        "--text-col with --kwic-window tokens of context, written to --output as (doc_id, "
        "pos, left_ctx, term, right_ctx)",
    )
    p.add_argument(
        "--kwic-window", metavar="N", type=int,
        help="context window in tokens for --kwic (default 2)",
    )
    p.add_argument(
        "--srp-dedup", action="store_true",
        help="maintenance mode (standalone): SRP-LSH embedding near-dup "
        "(operators/multimodal.srp_near_dup — Charikar sign random projections + the "
        "banded-hamming join) over the --input table's (vec_id, embedding) columns; pairs "
        "written to --output as (ref_a, ref_b, hamming); --phash-max-hamming overrides the "
        "threshold (default 3, the pigeonhole-complete regime)",
    )
    p.add_argument(
        "--winnow-dedup", action="store_true",
        help="maintenance mode (standalone): winnowing fingerprint match candidates "
        "(operators/winnow — Schleimer SIGMOD'03 MOSS scheme: min-hash-per-window k-gram "
        "selection, then an fp equi-join) over the --input table's (doc_id, text) columns; "
        "pairs written to --output as (doc_a, doc_b, n_shared), fingerprints to --output.fps; "
        "--winnow-min-shared sets the pair floor (default 2)",
    )
    p.add_argument(
        "--winnow-min-shared", metavar="N", type=int,
        help="minimum shared distinct fingerprints for a --winnow-dedup pair (default 2)",
    )
    p.add_argument(
        "--snm-dedup", action="store_true",
        help="maintenance mode (standalone): sorted-neighborhood dedup (Hernández-Stolfo SIGMOD'95 "
        "merge/purge: ONE corpus sort on a first-3-token blocking key, in-window candidate "
        "pairs, exact shingle-Jaccard verify on candidates only) over the --input table's "
        "(doc_id, text); pairs to --output as (doc_a, doc_b, jaccard); --snm-window sets the "
        "window (default 4), --snm-min-jaccard the verify floor (default 0.05)",
    )
    p.add_argument(
        "--snm-window", metavar="W", type=int,
        help="sorted-neighborhood window size for --snm-dedup (default 4)",
    )
    p.add_argument(
        "--snm-min-jaccard", metavar="J", type=float,
        help="verified-Jaccard floor for --snm-dedup pairs (default 0.05)",
    )
    p.add_argument(
        "--snm-passes", metavar="N", type=int, choices=(1, 2),
        help="multi-pass sorted-neighborhood (Hernández-Stolfo's refinement): 1 = first-3-token "
        "blocking key only (default); 2 = union candidates from an independent LAST-3-token "
        "pass, catching pairs whose corrupted prefix defeats the first sort",
    )
    p.add_argument(
        "--compress-postings", action="store_true",
        help="maintenance mode (standalone): write the --input table's (doc_id, text) inverted "
        "index as block-partitioned delta-gap + LEB128 varint payloads (operators/postings — "
        "the Lucene-family compressed posting layout): (term, block, n_postings, payload) "
        "rows to --output, with a decode round-trip count check and the compressed-vs-raw "
        "byte ratio printed",
    )
    p.add_argument(
        "--summarize", action="store_true",
        help="maintenance mode (standalone): TextRank extractive summarization (operators/textrank "
        "— Mihalcea EMNLP'04: per-doc sentence-similarity graph + damped power iterations) "
        "over the --input table's (doc_id, text) columns; top sentences written to --output "
        "as (doc_id, rank, sidx, sentence, score_u); --summary-k sets the summary size "
        "(default 2)",
    )
    p.add_argument(
        "--summary-k", metavar="K", type=int,
        help="sentences per document for --summarize (default 2)",
    )
    p.add_argument(
        "--spell-fix", action="store_true",
        help="maintenance mode (standalone): SymSpell dictionary correction "
        "(operators/spellfix.py) over the --input table's --text-col column — the dictionary "
        "is the corpus's OWN frequent vocabulary, corrections are rare words with an "
        "edit-distance-1 trusted neighbour; rewrites matching tokens (case-insensitive match, "
        "corrected form as learned) and adds an n_spellfixed counter. The correction map is "
        "rare-vocab-bounded (Heaps law) and ships to executors as a broadcast dict; the "
        "corpus is never shuffled",
    )
    p.add_argument(
        "--phash-max-hamming", type=int,
        help="--phash-dedup / --afp-dedup pair threshold (default 3 = the pigeonhole-complete "
        "regime; looser values are LSH best-effort)",
    )
    p.add_argument(
        "--afp-dedup", action="store_true",
        help="maintenance mode (standalone): acoustic-fingerprint audio near-dup over the --blobs "
        "audio table — 64-bit tone-density fingerprint per blob, banded-hamming pair join "
        "(operators/multimodal.audio_near_dup, same join machinery as --phash-dedup) — "
        "writing (ref_a, ref_b, hamming) pairs to --output; threshold via --phash-max-hamming",
    )
    p.add_argument(
        "--substr-k", type=int,
        help="--dedup-substrings gram width K (default 8): duplicated spans shorter than K words "
        "are not caught",
    )
    p.add_argument(
        "--train-bpe", type=int, metavar="N_MERGES",
        help="maintenance mode (standalone): learn up to N_MERGES BPE merges over the --input "
        "documents table (operators/bpe.py, distributed Sennrich '16) and persist the model "
        "dir to --output (merge table + params in a _bpe_model.json sidecar). On a cluster "
        "set PMOCR_RELIABLE_CHECKPOINT=1 and a checkpoint dir: each merge round's lineage cut "
        "is then fault-tolerant instead of executor-local (session.reliable_checkpoint)",
    )
    p.add_argument(
        "--bpe-min-count", type=int,
        help="--train-bpe early-stop: stop when the best pair's count drops below this (default: "
        "operators/bpe.py DEFAULT_MIN_COUNT)",
    )
    p.add_argument(
        "--encode-bpe", metavar="MODEL_DIR",
        help="maintenance mode (standalone): tokenize the --input documents table with the BPE "
        "model at MODEL_DIR (from --train-bpe) and write it to --output with bpe_tokens + "
        "n_bpe_tokens columns appended (Arrow-batched encode UDF)",
    )
    p.add_argument(
        "--warc-cdx", action="store_true",
        help="maintenance mode (standalone): build the CDX random-access index (urlkey, ts, "
        "warc_file, offset, length, digest, content_type) over the WARC shard tree at --input "
        "and write it to --output — after this one sequential pass, selective re-fetches seek "
        "straight to records (sources/warc.warc_cdx + read_records_at)",
    )
    p.add_argument(
        "--extract-links", action="store_true",
        help="maintenance mode (standalone): extract the host-level link graph from the HTML blobs "
        "in --blobs (operators/linkgraph.edges_from_html — stdlib parser, content-magic "
        "dispatch) and write distinct (src, dst) edges to --output",
    )
    p.add_argument(
        "--eval-extraction", metavar="GOLD_PARQUET",
        help="maintenance mode (standalone): grade the --input table's --text-col column against "
        "the gold documents table at GOLD_PARQUET (doc_id, text) — token-level "
        "precision/recall/F1 plus character/word error rates (CER/WER, the ISRI OCR-eval "
        "metrics) in integer micro-units per doc (operators/extraction_eval.py; the graded "
        "form of pmOCR's exact-fixture tests) written to --output, corpus micro+macro "
        "averages printed",
    )
    p.add_argument(
        "--robots-filter", metavar="ROBOTS_PARQUET",
        help="maintenance mode (standalone): RFC 9309 robots.txt URL admission "
        "(operators/robots.py) — evaluate every (host, path) row of the --input table (a "
        "single 'url' column is split automatically) against the robots.txt blob table at "
        "ROBOTS_PARQUET (columns host, content), longest-match / allow-wins-tie / "
        "default-allow semantics, and write the input plus an 'allowed' 0/1 column to "
        "--output; --robots-agent picks the user-agent group (default *)",
    )
    p.add_argument("--robots-agent", help="--robots-filter user-agent product token (default *)")
    p.add_argument(
        "--pagerank", action="store_true",
        help="maintenance mode (standalone): integer micro-unit PageRank over the (src, dst) edges "
        "table at --input (operators/linkgraph.pagerank — the host-level quality prior crawl "
        "pipelines publish); writes (node, rank_u, out_degree) to --output. On a cluster set "
        "PMOCR_RELIABLE_CHECKPOINT=1 and a checkpoint dir: the rank iterations' lineage cuts "
        "are then fault-tolerant instead of executor-local (session.reliable_checkpoint)",
    )
    p.add_argument("--pr-iters", type=int, help="--pagerank iterations (default 10)")
    p.add_argument(
        "--train-unigram", type=int, metavar="VOCAB_SIZE",
        help="maintenance mode (standalone): train a unigram-LM tokenizer (Kudo ACL'18, the "
        "SentencePiece algorithm) of VOCAB_SIZE pieces over the --input documents table "
        "(operators/unigram_lm.py) and persist the model dir to --output (piece table + "
        "params in a _unigram_model.json sidecar)",
    )
    p.add_argument(
        "--encode-unigram", metavar="MODEL_DIR",
        help="maintenance mode (standalone): Viterbi-tokenize the --input documents table with the "
        "unigram model at MODEL_DIR (from --train-unigram) and write it to --output with "
        "uni_tokens + n_uni_tokens columns appended",
    )
    p.add_argument(
        "--probe-broadcast", choices=('auto', 'force'),
        help="--probe-dedup-index join strategy: 'auto' (default; no hint — AQE broadcasts iff the "
        "batch is actually small) or 'force' (hint the broadcast; only for batches KNOWN to "
        "fit executor memory)",
    )
    p.add_argument(
        "--once", action="store_true",
        help="service mode: run ONE Trigger.AvailableNow reconciliation pass over everything "
        "currently in the landing dir(s) and exit, instead of the resident 30s poller — "
        "pmOCR's forced periodic run (W4: MAX_WAIT/MAX_TIME, pmocr.sh:24-26, 2269). Schedule "
        "it from cron against the same --stream-checkpoint and it picks up exactly the files "
        "the resident monitor has not seen.",
    )
    p.add_argument(
        "--engine",
        help="OCR engine adapter (pmOCR OCR_ENGINE, pmocr.sh:1825-1852): 'codec' (default; the "
        "deterministic synthetic codec — the only oracle-checkable engine) or 'tesseract' "
        "(real OCR via pytesseract+Pillow; requires them plus the tesseract binary on every "
        "executor). A comma-separated chain ('tesseract,codec') falls back per blob: first "
        "engine that decodes wins, all failing yields one error row naming each engine's "
        "failure. Additional engines via engines.register_engine().",
    )
    p.add_argument(
        "--dedup-index", metavar="DIR",
        help="service mode: cross-epoch near-dup suppression — each epoch's extracted docs are "
        "probed against the persisted banded-MinHash index at DIR (built up epoch by epoch, "
        "replay-idempotent); near-dup docs get a non-null dup_of column in the epoch output. "
        "Per-monitor subdirs with --monitor. Compact periodically with --compact-dedup-index "
        "DIR.",
    )
    p.add_argument(
        "--dedup-substrings-index", metavar="DIR",
        help="service mode: cross-epoch substring dedup — each epoch's extracted txt is stripped "
        "of duplicated >= k-word spans, both within the batch and against the persisted gram "
        "index at DIR (built up epoch by epoch, replay-idempotent; gram width recorded in its "
        "sidecar); the epoch output gains txt_clean/words_removed columns. Per-monitor "
        "subdirs with --monitor. Batch corpora use the standalone --dedup-substrings.",
    )
    p.add_argument("--alerts", help="alert table dir (S7; service mode)")
    p.add_argument("--stream-checkpoint", help="streaming offsets dir (service)")
    p.add_argument("--master", help="override spark master (default from env)")
    p.add_argument("--num-partitions", type=int)
    p.add_argument(
        "--partition-by",
        help="comma-separated result columns to Hive-partition the batch results sink by (e.g. "
        "--partition-by status): failed docs land in their own status=failed/ subdirectory "
        "(the S6 quarantine layout as a physical sink layout) and downstream scans prune "
        "whole partitions instead of filtering rows — the layout knob a 10^12-doc results "
        "table needs",
    )
    p.add_argument(
        "--span-join", choices=('broadcast', 'shuffle'),
        help="media-span/blob join strategy: 'broadcast' (default) keeps blob bytes in place and "
        "broadcasts the span side — right while the per-batch span set fits a broadcast; "
        "'shuffle' is the full-corpus path (salted span repartition + shuffle join, pair with "
        "media_ref-bucketed tables to remove even that exchange)",
    )
    return p


#: built-in defaults, applied below config and CLI (lowest precedence).
#: NOTE: every argparse option that appears here must keep argparse's
#: default None in build_parser — a truthy default would mask config values.
_DEFAULTS = {
    "targets": "txt",
    "run_id": "run-0",
    "job_ts": "2024-01-01T00:00:00Z",
    "span_join": "broadcast",
    "suffix": "_OCR",
    "engine": "codec",
}


def _coerce_config_types(parser: argparse.ArgumentParser, cfg: dict) -> dict:
    """Config files carry strings; coerce each value to its flag's type —
    store_true flags get bool parsing ('no_suffix=false' must NOT become
    the truthy string 'false'), typed options (e.g. --num-partitions
    int) get their argparse `type` applied."""
    by_dest = {a.dest: a for a in parser._actions}
    out = {}
    for k, v in cfg.items():
        a = by_dest[k]
        if isinstance(a.const, bool) or isinstance(a.default, bool):
            out[k] = v if isinstance(v, bool) else str(v).lower() in ("1", "true", "yes")
        elif a.type is not None and isinstance(v, str):
            out[k] = a.type(v)
        else:
            out[k] = v
    return out


def _parse_monitor_specs(value) -> list[tuple[str, str]]:
    """Normalize --monitor values to [(dir, targets_csv)].

    CLI gives a list of 'DIR=t1,t2' strings (action=append); JSON configs
    give a list that load_config preserves as-is — in both, each item is
    exactly ONE spec, split on the FIRST '=' only, so commas (and
    further '='s) in paths or target lists are safe. key=value configs
    give one string of ';'-separated specs; for robustness a
    comma-joined blob like 'd1=txt,csv,d2=pdf' also re-splits correctly
    there: tokens WITHOUT '=' belong to the previous spec's target list
    (only in the string form does a '='-in-path need quoting as a JSON
    list instead)."""
    if isinstance(value, (list, tuple)):
        pieces = [str(v) for v in value]
    else:
        pieces = []
        for part in str(value).split(";"):
            for tok in part.split(","):
                tok = tok.strip()
                if not tok:
                    continue
                if "=" in tok or not pieces:
                    pieces.append(tok)
                else:
                    pieces[-1] += "," + tok
    specs = []
    for piece in pieces:
        piece = piece.strip()
        if "=" not in piece:
            raise ValueError(f"monitor spec {piece!r} is not DIR=TARGETS")
        d, _, tgts = piece.partition("=")
        specs.append((d.strip(), tgts.strip()))
    return specs


class Mode(NamedTuple):
    """One CLI mode: what parse_args validates and what main() runs."""

    flag: str
    #: runner(spark, args); spark is None for --lsh-plan
    runner: Callable
    #: required options, one error per group: ("input", "output") ->
    #: "--input and --output are required with FLAG"
    needs: tuple = ()
    #: range checks in order: (bad(args) -> bool, error message)
    checks: tuple = ()
    #: dests of the options only this mode (and its siblings) may set
    owns: tuple = ()
    #: the args attribute that selects the mode (default: from the flag)
    dest: str = ""

    @property
    def key(self) -> str:
        return self.dest or self.flag[2:].replace("-", "_")


def _at_least(dest: str, lo, msg: str) -> tuple:
    """Check: `dest`, when given, is >= lo."""
    return (lambda a: getattr(a, dest) is not None and getattr(a, dest) < lo, msg)


def _within(dest: str, lo, hi, msg: str) -> tuple:
    """Check: `dest`, when given, is in [lo, hi]."""
    return (lambda a: getattr(a, dest) is not None and not lo <= getattr(a, dest) <= hi, msg)


#: options that only some modes read (their Mode.owns), and the error
#: printed when one is set under any other mode — checked before any
#: dispatch, so no mode silently drops a knob meant for another
_STRAY = (
    (("bpe_min_count",), "--bpe-min-count only applies to --train-bpe"),
    (("colloc_min_count",), "--colloc-min-count only applies to --collocations"),
    (("winnow_min_shared",), "--winnow-min-shared only applies to --winnow-dedup"),
    (("summary_k",), "--summary-k only applies to --summarize"),
    (("keyword_method",), "--keyword-method only applies to --keywords"),
    (("snm_window", "snm_min_jaccard", "snm_passes"),
     "--snm-window/--snm-min-jaccard/--snm-passes only apply to --snm-dedup"),
    (("kwic_window",), "--kwic-window only applies to --kwic"),
    (("hocr",), "--hocr requires --word-boxes"),
    (("tables",), "--tables requires --word-boxes"),
    (("layout",), "--layout requires --word-boxes"),
    (("pr_iters",), "--pr-iters only applies to --pagerank"),
    (("bloom_m", "bloom_k"), "--bloom-m/--bloom-k only apply to --build-bloom-index"),
    (("bloom_key_col",),
     "--bloom-key-col only applies to the --{build,append,probe}-bloom-index maintenance modes"),
    (("query", "max_df"), "--query/--max-df only apply to --search-text"),
    (("search_topk",), "--search-topk only applies to --search-text/--search-phrase"),
    (("train_codebook",), "--train-codebook only applies to --build-pq-index"),
    # rerank/routing width are probe-time choices, not index properties
    # (build persists the per-code cluster id regardless)
    (("rerank_vectors", "pq_topk", "ivf_nprobe"),
     "--rerank-vectors/--pq-topk/--ivf-nprobe only apply to --probe-pq-index"),
    (("robots_agent",), "--robots-agent only applies to --robots-filter"),
    (("layout_files",), "--layout-files only applies to --optimize-layout"),
    (("target_file_mb",), "--target-file-mb only applies to --compact-output"),
    (("substr_k",), "--substr-k only applies to --dedup-substrings"),
    (("phash_max_hamming",),
     "--phash-max-hamming only applies to --phash-dedup/--afp-dedup/--srp-dedup"),
    (("probe_broadcast",), "--probe-broadcast only applies to --probe-dedup-index"),
    (("text_col",), "--text-col only applies to --search-phrase/--fix-text/--spell-fix/"
     "--keywords/--collocations/--kwic/--eval-extraction"),
)

_PIPELINES = ("--batch", "--service")


def _is_set(parser: argparse.ArgumentParser, args, dest: str) -> bool:
    """An option is set when it differs from its parser default; a
    store_true flag when it is true."""
    v = getattr(args, dest)
    return v is not False and v != parser.get_default(dest)


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    """Three-layer precedence: built-in defaults < config file < CLI.
    Then picks the one mode (args.mode, a MODES key) and validates it."""
    parser = build_parser()
    args = parser.parse_args(argv)
    layered = dict(_DEFAULTS)
    if args.config:
        cfg = load_config(args.config)
        unknown = set(cfg) - {a.dest for a in parser._actions}
        if unknown:
            parser.error(f"unknown config keys: {sorted(unknown)}")
        # a mode given on the CLI overrides the config's mode entirely
        if args.batch or args.service:
            cfg.pop("batch", None)
            cfg.pop("service", None)
        # same for the input-source choice: --raw on the CLI displaces a
        # config's input/blobs (and vice versa) instead of colliding
        if args.raw:
            cfg.pop("input", None)
            cfg.pop("blobs", None)
        if args.input or args.blobs:
            cfg.pop("raw", None)
        layered.update(_coerce_config_types(parser, cfg))
    # an option is "unset on the CLI" when it is None — except store_true
    # flags, whose unset state is False. Testing `in (None, False)` for
    # everything would treat an EXPLICIT falsy value (--num-partitions 0)
    # as unset because 0 == False.
    flag_dests = {
        a.dest for a in parser._actions if isinstance(a.const, bool) or isinstance(a.default, bool)
    }
    for k, v in layered.items():
        cur = getattr(args, k, None)
        if cur is None or (k in flag_dests and cur is False):
            setattr(args, k, v)
    # maintenance mode: --compact-lineage alone (no --batch/--service)
    # compacts the lineage table and exits — the way to compact a
    # STOPPED stream's lineage without running any pipeline
    args.compact_only = args.compact_lineage and not (args.batch or args.service)
    maint = [
        m for m in MODES.values() if m.flag not in _PIPELINES and _is_set(parser, args, m.key)
    ]
    if len(maint) > 1:
        parser.error(f"{' and '.join(m.flag for m in maint)} are separate maintenance modes")
    args.mode = maint[0].flag if maint else ("--service" if args.service else "--batch")
    mode = MODES[args.mode]
    for dests, msg in _STRAY:
        if any(d not in mode.owns and _is_set(parser, args, d) for d in dests):
            parser.error(msg)
    if maint:
        if args.batch or args.service:
            parser.error(f"{mode.flag} is a standalone maintenance mode")
        for group in mode.needs:
            if not all(getattr(args, d) for d in group):
                verb = "are" if len(group) > 1 else "is"
                parser.error(
                    f"{' and '.join('--' + d for d in group)} {verb} required with {mode.flag}"
                )
        for bad, msg in mode.checks:
            if bad(args):
                parser.error(msg)
        args.target_list = []
        args.monitor_list = []
        return args
    if not (args.batch or args.service):
        parser.error("one of --batch / --service is required (flag or config)")
    if args.batch and args.service:
        parser.error("--batch and --service are mutually exclusive")
    if args.service and args.compact_lineage:
        parser.error(
            "--compact-lineage cannot run under --service: compacting a "
            "LIVE stream's lineage loses retry history on crash-replay "
            "of an old epoch — stop the stream, then run "
            "--compact-lineage --lineage DIR standalone"
        )
    if args.monitor and not args.service:
        parser.error("--monitor requires --service (pmOCR's per-dir OCR_service)")
    if args.once and not args.service:
        parser.error("--once is a service-mode reconciliation pass (W4); use with --service")
    if args.dedup_index and not args.service:
        parser.error(
            "--dedup-index is the service-mode cross-epoch near-dup pass; "
            "batch runs use the standalone --build/--probe-dedup-index modes"
        )
    if args.dedup_substrings_index and not args.service:
        parser.error(
            "--dedup-substrings-index is the service-mode cross-epoch "
            "substring pass; batch corpora use the standalone "
            "--dedup-substrings mode"
        )
    if args.raw and args.service:
        parser.error(
            "--raw is batch-only (no binaryFile streaming source); "
            "service mode consumes parquet document drops"
        )
    if args.raw and (args.input or args.blobs):
        parser.error("--raw replaces --input/--blobs; give one or the other")
    # per-dir monitors carry their own input dirs; --raw carries its own
    # input tree and derives blobs from it
    if args.monitor or args.raw:
        required = ("blobs", "output", "lineage") if args.monitor else ("output", "lineage")
    elif args.input_format == "warc":
        # warc shards carry documents AND media payloads in one stream
        required = ("input", "output", "lineage")
    else:
        required = ("input", "blobs", "output", "lineage")
    for req in required:
        if not getattr(args, req):
            parser.error(f"--{req} is required (flag or config)")

    def validate_targets(csv: str) -> list[str]:
        targets = [t.strip() for t in str(csv).split(",") if t.strip()]
        for t in targets:
            if t in ABBYY_ONLY_TARGETS:
                parser.error(
                    f"target '{t}' requires the ABBYY engine in the reference "
                    "(pmocr.sh:2571-2581, default.conf:122-126) and has no "
                    f"tesseract-analog here; supported: {','.join(SUPPORTED_TARGETS)}"
                )
            if t not in SUPPORTED_TARGETS:
                parser.error(f"unknown target '{t}'; supported: {','.join(SUPPORTED_TARGETS)}")
        return targets

    args.target_list = validate_targets(args.targets)
    args.monitor_list = []
    if args.monitor:
        import os

        try:
            specs = _parse_monitor_specs(args.monitor)
        except ValueError as e:
            parser.error(str(e))
        names: list[str] = []
        for d, tgts in specs:
            base = os.path.basename(os.path.normpath(d)) or "root"
            # uniquify until free: a single suffix attempt could still
            # collide with an explicit basename like 'x-2'
            name, i = base, 1
            while name in names:
                name = f"{base}-{i}"
                i += 1
            names.append(name)
            args.monitor_list.append((name, d, validate_targets(tgts)))
    return args


def launch_monitors(spark, args, blobs, job_ts: str, suffix: str, trigger: dict, ocr_udf=None):
    """Start every service-mode streaming query; returns [(name, query)].

    W7 parity (pmOCR spawns one OCR_service subshell per configured dir,
    each hard-wired to one target format, pmocr.sh:2519-2537): with
    --monitor specs, each dir becomes an INDEPENDENT streaming query in
    the shared SparkSession — its own file-source seen-map, epoch clock,
    and exactly-once lineage — with output/offsets/lineage/alerts
    namespaced per monitor name under the corresponding base dirs.
    Without --monitor, the single --input dir is one query over the base
    dirs directly (unchanged layout)."""
    from . import streaming

    specs = args.monitor_list or [(None, args.input, args.target_list)]
    ckpt_base = args.stream_checkpoint or args.lineage + "_offsets"
    queries = []
    for name, input_dir, tgts in specs:
        sub = (lambda base: f"{base}/{name}") if name is not None else (lambda base: base)
        q = streaming.monitor(
            spark,
            input_dir,
            blobs,
            sub(args.output),
            sub(ckpt_base),
            sub(args.lineage),
            run_id=f"{args.run_id}-{name}" if name is not None else args.run_id,
            job_ts=job_ts,
            trigger=trigger,
            alerts_dir=sub(args.alerts) if args.alerts else None,
            metrics_dir=sub(args.metrics) if args.metrics else None,
            targets=tgts,
            suffix=suffix,
            filename_addition=args.filename_addition,
            broadcast_spans=(args.span_join != "shuffle"),
            num_partitions=args.num_partitions,
            ocr_udf=ocr_udf,
            input_format=args.input_format,
            dedup_index_dir=sub(args.dedup_index) if args.dedup_index else None,
            substr_index_dir=(
                sub(args.dedup_substrings_index)
                if args.dedup_substrings_index
                else None
            ),
        )
        queries.append((name, q))
    return queries


def _read_tables(spark, args, docs: bool = True):
    """(documents, blobs) per --raw / --input-format. Service mode streams
    its documents, so it reads only the blobs (docs=False -> None)."""
    fmt = args.input_format
    if args.raw:
        from .sources.binary import lift_to_documents, read_media_dir

        blobs = read_media_dir(spark, args.raw)
        return lift_to_documents(blobs), blobs
    if fmt == "warc":
        if not docs:
            # the streaming file source has no whole-file binary format;
            # crawl shards are a bounded-batch input by nature (a crawl
            # is finished before it ships) — loud error over silent
            # misread, the engines.py missing-dependency discipline
            raise SystemExit(
                "pmocr-spark: --input-format warc is batch-only; "
                "run batch mode over the shard directory"
            )
        from .sources.warc import read_warc_records, warc_to_documents

        return warc_to_documents(read_warc_records(spark, args.input))
    if fmt == "jsonl":
        from .sources.jsonl import read_blobs_jsonl, read_documents_jsonl

        return (
            read_documents_jsonl(spark, args.input) if docs else None,
            read_blobs_jsonl(spark, args.blobs),
        )
    # parquet / orc
    return (
        getattr(spark.read, fmt)(args.input) if docs else None,
        getattr(spark.read, fmt)(args.blobs),
    )


def _run_service(spark, args) -> None:
    job_ts = args.job_ts.replace("T", " ").replace("Z", "")
    suffix = "" if args.no_suffix else args.suffix
    _, blobs = _read_tables(spark, args, docs=False)
    # default: poller interval parity (INOTIFY_POLLER_INTERVAL,
    # default.conf:33); --once: W4 reconciliation pass that drains
    # the landing dir(s) and terminates
    trigger = {"availableNow": True} if args.once else {"processingTime": "30 seconds"}
    queries = launch_monitors(
        spark, args, blobs, job_ts, suffix, trigger=trigger, ocr_udf=args.ocr_udf
    )
    # all queries run concurrently; blocking on each in turn = block
    # until every monitor stops (pmOCR parks in its sleep loop while
    # the per-dir OCR_service subshells run, pmocr.sh:2540-2544)
    for _name, q in queries:
        q.awaitTermination()


def _run_batch(spark, args) -> None:
    import sys
    from datetime import datetime

    from . import checkpoint as ckpt
    from . import pipeline

    job_ts = args.job_ts.replace("T", " ").replace("Z", "")
    suffix = "" if args.no_suffix else args.suffix
    docs, blobs = _read_tables(spark, args)
    lineage = ckpt.read_checkpoint(spark, args.lineage)
    if lineage is not None:
        # one scan for the warning + resume filter + retry-count lookup
        lineage = lineage.persist()
        # P2 retry runs on the deterministic job clock: if --job-ts does
        # not advance past the last run's, failed docs stay postponed
        # forever and retry-with-postponement silently never fires
        last = lineage.agg(F.max("ts").alias("t")).collect()[0]["t"]
        try:
            job_dt = datetime.fromisoformat(job_ts)
        except ValueError:
            job_dt = None  # odd-but-castable format: skip the advisory
        if last is not None and job_dt is not None and job_dt <= last:
            print(
                f"pmocr-spark: warning: --job-ts {job_ts!r} does not advance "
                f"past the lineage's last run ({last}); failed docs remain "
                "postponed — pass a later --job-ts to retry them",
                file=sys.stderr,
            )
    results = pipeline.run_batch(
        spark,
        docs,
        blobs,
        checkpoint=lineage,
        num_partitions=args.num_partitions,
        broadcast_spans=(args.span_join != "shuffle"),
        job_ts=job_ts,
        ocr_udf=args.ocr_udf,
    )
    cached = results.persist()
    # F7 output-name projection + Q1 multi-target fan-out (doc_id is
    # unique, so F8 collision resolution is a no-op here; q06 exercises
    # the windowed variant)
    out = pipeline.project_targets(
        cached, args.target_list, job_ts, suffix=suffix, addition=args.filename_addition
    )
    pcols = []
    if args.partition_by:
        pcols = [c.strip() for c in args.partition_by.split(",") if c.strip()]
        missing = [c for c in pcols if c not in out.columns]
        if missing:
            raise SystemExit(
                f"pmocr-spark: error: --partition-by column(s) {missing} not in "
                f"the results table; available: {', '.join(out.columns)}"
            )
    if args.output_format == "wet":
        from .sources.warc import write_wet

        if pcols:
            raise SystemExit(
                "pmocr-spark: --partition-by does not compose with "
                "--output-format wet (shard layout is the format)"
            )
        if "txt" not in out.columns:
            raise SystemExit(
                "pmocr-spark: --output-format wet needs the txt target; "
                "add txt to --targets"
            )
        # WET is the extracted-text artifact: done docs only (failures
        # and skips live in lineage, exactly like CommonCrawl's WET
        # files carry successful conversions only)
        write_wet(out.filter(F.col("status") == "done"), args.output, job_ts=job_ts)
    elif args.output_format == "jsonl":
        from .sources.jsonl import write_jsonl

        write_jsonl(out, args.output, partition_by=pcols or None)
    else:
        writer = out.write.mode("append")
        if pcols:
            writer = writer.partitionBy(*pcols)
        if args.output_format == "orc":
            writer.orc(args.output)
        else:
            writer.parquet(args.output)
    rows = ckpt.checkpoint_rows(cached, run_id=args.run_id, job_ts=job_ts, prior=lineage)
    ckpt.append_checkpoint(rows, args.lineage)
    cached.unpersist()
    if lineage is not None:
        lineage.unpersist()
    if args.metrics:
        # re-read AFTER the append so the report covers this run too;
        # overwrite — the report is a derived view of the lineage table
        full = ckpt.read_checkpoint(spark, args.lineage)
        ckpt.partition_metrics(full).write.mode("overwrite").parquet(args.metrics)
    if args.compact_lineage:
        # after metrics: the per-run partition report needs the full
        # history; compaction keeps only each doc's winning row
        ckpt.compact_checkpoint(spark, args.lineage)


# ---------------------------------------------------------------------
# maintenance-mode runners: runner(spark, args). Operator imports stay
# inside each runner, so a mode loads only what it uses.
# ---------------------------------------------------------------------


def _write(spark, df, path: str):
    """Overwrite `path` with df; return the committed table, re-read."""
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _read_input(spark, args, cols, note: str = "", prefix: str = "pmocr-spark: "):
    """The --input table; exits when it lacks any of `cols`."""
    df = spark.read.parquet(args.input)
    if any(c not in df.columns for c in cols):
        raise SystemExit(
            f"{prefix}{args.mode}: {args.input} needs ({', '.join(cols)}) "
            f"columns (columns: {df.columns}{note})"
        )
    return df


def _read_text_input(spark, args, prefix: str = "pmocr-spark: "):
    """The --input table with (doc_id, --text-col) columns."""
    return _read_input(
        spark, args, ("doc_id", args.text_col), "; --text-col overrides", prefix
    )


def _as_text(df, tc: str):
    """df with its tc column named text."""
    return df.withColumnRenamed(tc, "text") if tc != "text" else df


def _read_flat_docs(spark, args, kind: str):
    """The --input documents table, which must be flat (have text)."""
    docs = spark.read.parquet(args.input)
    if "text" not in docs.columns:
        raise SystemExit(
            f"{args.mode}: {args.input} has no 'text' column (columns: "
            f"{docs.columns}) — {kind} modes read a FLAT documents table; "
            "extract span tables to txt first (--batch --targets txt)"
        )
    return docs


def _max_hamming(args) -> dict:
    return {} if args.phash_max_hamming is None else {"max_hamming": args.phash_max_hamming}


def _compact_lineage(spark, args) -> None:
    from . import checkpoint as ckpt

    n = ckpt.compact_checkpoint(spark, args.lineage)
    print(f"pmocr-spark: compacted lineage at {args.lineage} to {n} rows")


def _dedup_index(spark, args, op: str) -> None:
    """Dedup-index lifecycle maintenance (round-3 verdict item #4): the
    persisted-index recipe from operators/dedup_index's module docstring
    as CLI modes. build writes index+sidecar; probe/merge band the new
    batch with the SIDECAR's params (never the defaults — a mismatched
    banding silently finds nothing, which probe_index now rejects);
    merge is append-cheap (apply_cap=False); compact runs the periodic
    hot-bucket cap. merge/compact rewrite the index dir via
    checkpoint.replace_dir (write-aside + rename; atomic on
    rename-atomic filesystems) and restore the params sidecar the swap
    discarded.

    Cap discipline: the hot-bucket cap is a POLICY (recorded in the
    sidecar), never applied to rows the index STORES — build and merge
    write uncapped band rows, compact enforces the cap, and probe caps
    its view of the index transiently. Capping stored rows per batch
    drops them irreversibly, so a later compaction would disagree with
    a one-shot build over the union of all batches (the parity
    tests/test_dedup_index.py and test_cli.py pin)."""
    from . import checkpoint as ckpt
    from .operators import dedup_index as di

    idx_dir = getattr(args, f"{op}_dedup_index")
    if op == "build":
        docs = spark.read.parquet(args.input)
        # uncapped rows on disk (see cap discipline above); the sidecar
        # written by write_index records the default cap as the policy
        di.write_index(di.build_index(docs, max_bucket=None), idx_dir)
        print(f"pmocr-spark: built dedup index at {idx_dir}")
        return
    index, params = di.read_index(spark, idx_dir)
    if op in ("merge", "compact") and params.get("source") == "defaults":
        # refuse to LAUNDER guessed params into an authoritative sidecar:
        # write_meta below strips the 'source' marker, so a merge/compact
        # over a sidecar-less index would record the defaults as the
        # build's geometry and every later probe's mismatch guard would
        # pass vacuously (probing an 8/2-banded index with 12/3 finds
        # nothing, silently). probe still works — its range fallback
        # runs for defaults-sourced params.
        raise SystemExit(
            f"pmocr-spark: index at {idx_dir} has no params sidecar; "
            f"--{op}-dedup-index would record the guessed defaults as its "
            "build geometry. Restore the sidecar (dedup_index.write_meta "
            "with the build's n_hashes/band_size/max_bucket) or rebuild "
            "the index."
        )
    if op == "probe":
        docs = spark.read.parquet(args.input)
        # transient capped VIEW of the index: protects the join from
        # hot buckets even when no compaction has run yet, and makes
        # probe hits identical to probing a freshly compacted index.
        # The PROBE side bands stay uncapped (max_bucket=None): capping
        # them would silently skip checking a flood batch's docs against
        # the index — the service-mode hook's exact semantics.
        hits = di.probe_index(
            docs,
            di.cap_index(index, params["max_bucket"]),
            broadcast_probe=(args.probe_broadcast == "force") or None,
            index_params=params,
            max_bucket=None,
            n_hashes=params["n_hashes"],
            band_size=params["band_size"],
        )
        hits.write.mode("overwrite").parquet(args.output)
        print(f"pmocr-spark: probe hits written to {args.output}")
        return
    if op == "merge":
        docs = spark.read.parquet(args.input)
        # no per-batch cap (max_bucket=None): capping a single batch at
        # merge time drops rows IRREVERSIBLY, so a later compaction sees
        # a smaller bucket than a one-shot build over the union would —
        # the deferred-cap design puts the cap ONLY in the compaction
        # pass (tests/test_dedup_index.py pins maintained == one-shot)
        new_bands = di.build_index(
            docs,
            n_hashes=params["n_hashes"],
            band_size=params["band_size"],
            max_bucket=None,
        )
        merged = di.merge_index(index, new_bands, apply_cap=False).persist()
        n = merged.count()  # materialize before replacing the dir it reads
    else:  # compact
        merged = di.cap_index(index, params["max_bucket"])
        if "epoch" in merged.columns:
            # flatten stream-accumulated history to epoch-less SEED rows
            # (visible to every epoch), like --compact-substr-index: a
            # stream restarted on a fresh offsets checkpoint restarts
            # epoch ids at 0, and rows keeping their old epoch values
            # would be hidden from every probe of the new run (and its
            # epoch-0 write would collide with the old subdir). Run this
            # only with the stream STOPPED — same rule as the substr twin.
            merged = merged.drop("epoch").distinct()
        merged = merged.persist()
        n = merged.count()
    ckpt.replace_dir(spark, merged, idx_dir, tag=".dedup")
    merged.unpersist()
    di.write_meta(spark, idx_dir, params)
    print(f"pmocr-spark: {op} rewrote dedup index at {idx_dir} ({n} rows)")


def _pq_index(spark, args, op: str) -> None:
    """PQ-index lifecycle maintenance, the ANN twin of _dedup_index.
    build encodes the --input embeddings and persists codes + codebook
    sidecar; append encodes a new batch against the SIDECAR's codebook
    (never a fresh one — codes from two codebooks are incomparable,
    which read_pq_index's guards enforce) and appends, no compaction
    needed (per-vector codes are independent); probe runs the ADC top-k
    scan, optionally reranked by exact cosine over --rerank-vectors (the
    scan→shortlist→rerank shape of q21 part='pq' — compressed distance
    finds the neighborhood, exact distance orders it)."""
    from pyspark.sql import Window as W

    from .operators import pq

    idx_dir = getattr(args, f"{op}_pq_index")
    batch = pq.normalize_embeddings(spark.read.parquet(args.input))
    if op == "build":
        book = (
            pq.train_codebook(batch, iters=args.train_codebook)
            if args.train_codebook is not None
            else pq.pq_codebook(batch)
        )
        # routing state (per-code IVF cluster id) is persisted
        # unconditionally: one int per code, computed in the same
        # broadcast encode pass, and it is what makes --ivf-nprobe
        # probes possible later — at 10^12 codes the routed probe is
        # the only probe that matters
        pq.write_pq_index(
            pq.pq_encode(batch, book, ivf_n_cent=pq.N_IVF),
            book,
            idx_dir,
            ivf_n_cent=pq.N_IVF,
        )
        trained = (
            f" (codebook Lloyd-trained, {args.train_codebook} iters)"
            if args.train_codebook is not None
            else ""
        )
        print(f"pmocr-spark: built pq index at {idx_dir}{trained}")
        return
    codes, book, meta = pq.read_pq_index(spark, idx_dir)
    if op == "append":
        # encode with the INDEX's routing config (None for a pre-routing
        # index) — write_pq_index rejects a mismatch
        nc = meta.get("ivf_n_cent")
        pq.write_pq_index(
            pq.pq_encode(batch, book, ivf_n_cent=nc), book, idx_dir, mode="append", ivf_n_cent=nc
        )
        print(f"pmocr-spark: appended batch codes to pq index at {idx_dir}")
        return
    # probe
    q = batch.select(F.col("vec_id").alias("query_id"), "en")
    tables = pq.pq_query_tables(q, book)
    by = None
    if args.ivf_nprobe is not None:
        nc = meta.get("ivf_n_cent")
        if nc is None or "cluster_id" not in codes.columns:
            raise SystemExit(
                "pmocr-spark: error: --ivf-nprobe needs per-code cluster ids; "
                f"the index at {idx_dir} predates IVF routing — rebuild it "
                "with --build-pq-index"
            )
        tables = tables.join(pq.ivf_probe_topn(q, book, args.ivf_nprobe, n_cent=nc), "query_id")
        by = "cluster_id"
    if not args.rerank_vectors:
        hits = pq.pq_adc_topk(codes, tables, topk=args.pq_topk or pq.SHORTLIST, by=by)
    else:
        topk = args.pq_topk or 5
        short = pq.pq_adc_topk(codes, tables, topk=pq.SHORTLIST, by=by).select(
            "query_id", "neighbor_id"
        )
        cand = pq.normalize_embeddings(spark.read.parquet(args.rerank_vectors)).select(
            F.col("vec_id").alias("neighbor_id"), F.col("en").alias("cen")
        )
        dot = F.aggregate(
            F.zip_with("en", "cen", lambda x, y: x * y), F.lit(0.0), lambda a, x: a + x
        )
        w = W.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), "neighbor_id")
        hits = (
            cand.join(F.broadcast(short), "neighbor_id")
            .join(F.broadcast(q), "query_id")
            .select("query_id", "neighbor_id", F.round(dot, 4).alias("cos_sim"))
            .select(
                "query_id",
                "neighbor_id",
                F.row_number().over(w).cast("long").alias("rk"),
                "cos_sim",
            )
            .filter(F.col("rk") <= topk)
        )
    hits.write.mode("overwrite").parquet(args.output)
    print(f"pmocr-spark: pq probe hits written to {args.output}")


def _text_index(spark, args, op: str) -> None:
    """BM25 text-index lifecycle, the sparse-retrieval twin of
    _pq_index. build persists the inverted index (postings/dl/df +
    stats sidecar) over the --input documents table; append tokenizes a
    new (doc_id-disjoint) batch and appends — every component is
    additive, so there is no merge pass; search scores --query against
    the persisted index with the exact same _score_topk path the q21
    gate arm uses."""
    from .operators import bm25

    if op in ("build", "append"):
        idx_dir = getattr(args, f"{op}_text_index")
        docs = spark.read.parquet(args.input)
        mode = "append" if op == "append" else "overwrite"
        meta = bm25.write_text_index(docs, idx_dir, mode=mode)
        print(
            f"pmocr-spark: {op} text index at {idx_dir} "
            f"({meta['n_docs']} docs, {meta['sum_dl']} tokens)"
        )
        return
    queries = bm25.parse_query_terms(spark, args.query)
    hits = bm25.search_text_index(
        spark,
        args.search_text,
        queries,
        topk=args.search_topk or 5,
        max_df_frac=args.max_df,
    )
    n = _write(spark, hits, args.output).count()
    print(f"pmocr-spark: text search wrote {n} hits to {args.output}")


def _search_phrase(spark, args) -> None:
    from .operators import bm25

    docs = _read_text_input(spark, args)
    phrases = spark.createDataFrame(
        [(i, p.strip()) for i, p in enumerate(args.search_phrase.split(",")) if p.strip()],
        "query_id long, phrase string",
    )
    hits = bm25.phrase_search(docs, phrases, topk=args.search_topk or 5, text_col=args.text_col)
    n = _write(spark, hits, args.output).count()
    print(f"pmocr-spark: phrase search wrote {n} hits to {args.output}")


def _bloom_index(spark, args, op: str) -> None:
    """Bloom membership pre-filter lifecycle, the cheap first tier in
    front of _dedup_index. build hashes the --input table's
    --bloom-key-col into k set-bit positions and persists them with the
    (m, k) geometry sidecar; append is the Bloom OR (pure position
    append, geometry enforced); probe answers definitely-new /
    maybe-member per input row with zero probe-side shuffle (the
    broadcast path) — route only the maybe rows to the exact index;
    compact rewrites the positions distinct."""
    from .operators import bloom

    idx_dir = getattr(args, f"{op}_bloom_index")
    if op == "compact":
        n = bloom.compact_bloom_index(spark, idx_dir)
        print(f"pmocr-spark: compacted bloom index at {idx_dir} to {n} positions")
        return
    key_col = args.bloom_key_col or "text"
    batch = spark.read.parquet(args.input)
    if key_col not in batch.columns:
        raise SystemExit(
            f"pmocr-spark: error: --input has no column {key_col!r} "
            f"(columns: {', '.join(batch.columns)}); set --bloom-key-col"
        )
    keyed = batch.withColumn("_bkey", F.md5(F.col(key_col).cast("binary")))
    if op == "build":
        m = args.bloom_m if args.bloom_m is not None else bloom.BLOOM_M
        k = args.bloom_k if args.bloom_k is not None else bloom.BLOOM_K
        bits = bloom.bloom_build(keyed, key_col="_bkey", m=m, k=k)
        bloom.write_bloom_index(bits, idx_dir, m=m, k=k)
        print(f"pmocr-spark: built bloom index at {idx_dir} (m={m}, k={k})")
        return
    bits, meta = bloom.read_bloom_index(spark, idx_dir)
    if op == "append":
        add = bloom.bloom_build(keyed, key_col="_bkey", m=meta["m"], k=meta["k"])
        bloom.write_bloom_index(add, idx_dir, m=meta["m"], k=meta["k"], mode="append")
        print(f"pmocr-spark: appended batch positions to bloom index at {idx_dir}")
        return
    # probe
    out = bloom.bloom_probe(keyed, bits, key_col="_bkey", m=meta["m"], k=meta["k"]).drop("_bkey")
    counts = (
        _write(spark, out, args.output)
        .agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("maybe_member"), F.lit(0)).alias("maybe"),
        )
        .collect()[0]
    )
    print(
        f"pmocr-spark: probed {counts['n']} rows against {idx_dir}: "
        f"{counts['maybe']} maybe-member (exact-check these), "
        f"{counts['n'] - counts['maybe']} definitely new"
    )


def _compact_substr_index(spark, args) -> None:
    from . import checkpoint as ckpt
    from .operators.substring_dedup import GRAM_META, read_gram_index

    idx_dir = args.compact_substr_index
    meta = ckpt.read_sidecar(spark, idx_dir, GRAM_META)
    flat = read_gram_index(spark, idx_dir).select("gh").distinct().persist()
    n = flat.count()  # materialize before replacing the dir it reads
    ckpt.replace_dir(spark, flat, idx_dir, tag=".substr")
    flat.unpersist()
    if meta is not None:  # restore the sidecar the swap discarded
        ckpt.write_sidecar(spark, idx_dir, GRAM_META, meta)
    print(f"pmocr-spark: compacted gram index at {idx_dir} to {n} rows")


def _dedup_substrings(spark, args) -> None:
    from .operators.substring_dedup import DEFAULT_K, substring_dedup

    k = args.substr_k or DEFAULT_K
    docs = spark.read.parquet(args.input)
    cleaned = substring_dedup(docs, k=k)
    # cleaned corpus keeps every non-text column; text is replaced
    # by the deduped reconstruction (doc_id equi-join, one shuffle).
    # Drop any pre-existing stat columns from the passthrough side so
    # the mode is idempotent over its own output (re-running with a
    # different k must overwrite, not COLUMN_ALREADY_EXISTS-crash on,
    # the previous pass's stats).
    out = docs.drop("text", "new_text", "n_words", "n_kept", "n_removed").join(
        cleaned.withColumnRenamed("new_text", "text"), "doc_id"
    )
    n = _write(spark, out, args.output).agg(F.sum("n_removed"), F.count("*")).first()
    print(
        f"pmocr-spark: substring dedup (k={k}) wrote {n[1]} docs to "
        f"{args.output}, {n[0]} duplicated words removed"
    )


def _blob_near_dup(spark, args, op: str, what: str) -> None:
    """--phash-dedup / --afp-dedup: banded-hamming pairs over --blobs."""
    from .operators import multimodal

    pairs = getattr(multimodal, op)(spark.read.parquet(args.blobs), **_max_hamming(args))
    n = _write(spark, pairs, args.output).count()
    print(f"pmocr-spark: {n} {what} near-dup pairs written to {args.output}")


def _transcribe(spark, args, what: str) -> None:
    """--transcribe-audio / --transcribe-video: decode every --blobs row."""
    from .operators import multimodal

    decode = getattr(multimodal, f"{what}_transcribe")
    blobs = spark.read.parquet(args.blobs)
    out = blobs.select("media_ref", decode(F.col("content")).alias("t")).select(
        "media_ref", "t.*"
    )
    got = _write(spark, out, args.output)
    n_ok = got.filter(F.col("error").isNull()).count()
    n_err = got.filter(F.col("error").isNotNull()).count()
    print(
        f"pmocr-spark: transcribed {n_ok} {what} blobs "
        f"({n_err} failed as error rows) to {args.output}"
    )


def _extract_markdown(spark, args) -> None:
    import pandas as pd

    from .operators import html_extract as hx

    blobs = spark.read.parquet(args.blobs)

    schema = (
        "media_ref string, markdown string, tables_json string, "
        "n_blocks long, n_tables long"
    )

    def conv(batches):
        # iterator mapInPandas: constant memory however many blobs;
        # non-HTML blobs skipped by the same content magic the fused
        # pipeline UDF dispatches on. Tables ship as JSON (Arrow's
        # pandas converter rejects triply-nested list columns);
        # consumers re-structure with from_json('array<array<
        # array<string>>>').
        for pdf in batches:
            refs, mds, tbls, nb, nt = [], [], [], [], []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                if blob is None or not hx.sniff_html(bytes(blob)):
                    continue
                try:
                    doc = bytes(blob).decode("utf-8")
                except UnicodeDecodeError:
                    continue
                md = hx.to_markdown(doc)
                tables = hx.extract_tables(doc)
                refs.append(ref)
                mds.append(md)
                tbls.append(json.dumps(tables))
                nb.append(len([b for b in md.split("\n\n") if b]))
                nt.append(len(tables))
            yield pd.DataFrame(
                {
                    "media_ref": refs,
                    "markdown": mds,
                    "tables_json": tbls,
                    "n_blocks": nb,
                    "n_tables": nt,
                }
            )

    out = blobs.select("media_ref", "content").mapInPandas(conv, schema)
    n = _write(spark, out, args.output).count()
    print(f"pmocr-spark: extracted markdown for {n} html blobs to {args.output}")


#: --word-boxes output formats: (summary label, output schema, the error
#: row's fields between media_ref and error)
_BOX_FORMATS = {
    "layout": (
        "layout blocks",
        "media_ref string, block_no long, n_lines long, text string, error string",
        (-1, -1, None),
    ),
    "hocr": (
        "hOCR documents",
        "media_ref string, hocr string, n_words long, error string",
        (None, -1),
    ),
    "tables": (
        "table cells",
        "media_ref string, block_no long, row_no long, col_no long, "
        "cell string, x0 long, y0 long, x1 long, y1 long, error string",
        (-1, -1, -1, None, -1, -1, -1, -1),
    ),
    "words": (
        "word boxes",
        "media_ref string, line_no long, word_no long, word string, "
        "x0 long, y0 long, x1 long, y1 long, error string",
        (-1, -1, None, -1, -1, -1, -1),
    ),
}


def _box_rows(fmt: str, ref: str, b: bytes):
    """One image/pdf blob's output rows in format `fmt`, without error."""
    from . import codecs

    if fmt == "layout":
        for bno, btxt in enumerate(codecs.recognize_regions(b)):
            yield (ref, bno, btxt.count("\n") + 1, btxt)
    elif fmt == "tables":
        # per COLUMN BLOCK: detect_table's whitespace channels are only
        # meaningful inside one block's coordinate frame — a two-column
        # page is two independent tables
        for bno, (bws, _n) in enumerate(codecs.recognize_words_blocks(b)):
            for rn, cn, cell, x0, x1, y0, y1 in codecs.detect_table(bws):
                yield (ref, bno, rn, cn, cell, x0, y0, x1, y1)
    elif fmt == "hocr":
        ws = codecs.recognize_words(b)
        yield (ref, codecs.to_hocr(ws, page_id=ref), len(ws))
    else:
        for w in codecs.recognize_words(b):
            yield (ref, *w)


def _word_boxes(spark, args) -> None:
    import pandas as pd

    from . import codecs

    fmt = next((f for f in ("layout", "hocr", "tables") if getattr(args, f)), "words")
    label, schema, err_fields = _BOX_FORMATS[fmt]
    cols = [c.split()[0] for c in schema.split(", ")]
    blobs = spark.read.parquet(args.blobs)

    def boxes(batches):
        # iterator mapInPandas: constant memory; only image/pdf
        # containers are OCR-able layout sources (audio/html/video
        # skipped by the same magic dispatch the fused UDF uses);
        # undecodable image blobs become one error row each — the
        # engine's error-as-data discipline, never a lost blob.
        for pdf in batches:
            rows = []
            for ref, blob in zip(pdf["media_ref"], pdf["content"]):
                if blob is None:
                    continue
                b = bytes(blob)
                if b[:6] not in (codecs.IMG_MAGIC, codecs.PDF_MAGIC):
                    continue
                try:
                    for r in _box_rows(fmt, ref, b):
                        rows.append((*r, None))
                # broad catch, same as the fused UDF (udfs.py): a
                # magic-valid blob with a torn header raises raw
                # struct.error from rasterize, and error-as-data
                # means NO exception may kill the task
                except Exception as e:  # noqa: BLE001
                    rows.append((ref, *err_fields, str(e)))
            yield pd.DataFrame(rows, columns=cols)

    out = blobs.select("media_ref", "content").mapInPandas(boxes, schema)
    got = _write(spark, out, args.output)
    n_ok = got.filter(F.col("error").isNull()).count()
    n_err = got.filter(F.col("error").isNotNull()).count()
    print(
        f"pmocr-spark: {n_ok} {label} "
        f"({n_err} undecodable blobs as error rows) to {args.output}"
    )


def _fix_text(spark, args) -> None:
    from .functions import dehyphenate, fix_mojibake, is_mojibake, reflow

    df = spark.read.parquet(args.input)
    tc = args.text_col
    if tc not in df.columns:
        raise SystemExit(f"pmocr-spark: --fix-text: no column {tc!r} in {args.input}")
    # encoding repair FIRST (mojibake survives reflow but confuses
    # the hyphen heuristics), then count BEFORE the text repairs so
    # the counters describe what changed; everything stays inside
    # one codegen'd map projection
    c = fix_mojibake(F.col(tc))
    n_hyp = F.regexp_count(c, F.lit("([A-Za-z0-9])-\n[ \t]*[a-z0-9]"))
    fixed = reflow(dehyphenate(c))
    out = (
        df.withColumn("n_mojibake_repaired", is_mojibake(F.col(tc)))
        .withColumn("n_hyphens_repaired", n_hyp.cast("long"))
        .withColumn(
            "n_breaks_reflowed",
            (
                F.regexp_count(dehyphenate(c), F.lit("\n"))
                - F.regexp_count(fixed, F.lit("\n"))
            ).cast("long"),
        )
        .withColumn(tc, fixed)
    )
    tot = _write(spark, out, args.output).agg(
        F.coalesce(F.sum("n_mojibake_repaired"), F.lit(0)).alias("m"),
        F.coalesce(F.sum("n_hyphens_repaired"), F.lit(0)).alias("h"),
        F.coalesce(F.sum("n_breaks_reflowed"), F.lit(0)).alias("b"),
        F.count("*").alias("n"),
    ).collect()[0]
    print(
        f"pmocr-spark: repaired {tot['n']} rows ({tot['m']} mojibake docs, "
        f"{tot['h']} hyphen breaks, {tot['b']} wraps reflowed) to {args.output}"
    )


def _spell_fix(spark, args) -> None:
    import re

    import pandas as pd

    from .operators.bpe import word_freqs
    from .operators.spellfix import spell_corrections

    df = spark.read.parquet(args.input)
    tc = args.text_col
    if tc not in df.columns:
        raise SystemExit(f"pmocr-spark: --spell-fix: no column {tc!r} in {args.input}")
    wfd = word_freqs(_as_text(df, tc))
    # the correction map is rare-vocab-bounded (Heaps law): the
    # targets are freq<=2 words, so this collect is the same
    # driver-small footprint as the BPE merge loop / PQ codebooks
    mapping = {r["wrong"]: r["corrected"] for r in spell_corrections(wfd).collect()}
    bmap = spark.sparkContext.broadcast(mapping)
    word_re = re.compile(r"\S+")

    @F.pandas_udf("struct<fixed:string,n:long>")
    def fix(texts):
        m = bmap.value

        def one(t):
            if t is None:
                return {"fixed": None, "n": 0}
            n = 0

            def sub(match):
                nonlocal n
                rep = m.get(match.group(0).lower())
                if rep is None:
                    return match.group(0)
                n += 1
                return rep

            return {"fixed": word_re.sub(sub, t), "n": n}

        return pd.DataFrame([one(t) for t in texts])

    out = (
        df.withColumn("_fx", fix(F.col(tc)))
        .withColumn(tc, F.col("_fx.fixed"))
        .withColumn("n_spellfixed", F.col("_fx.n"))
        .drop("_fx")
    )
    tot = _write(spark, out, args.output).agg(
        F.coalesce(F.sum("n_spellfixed"), F.lit(0)).alias("f"),
        F.count("*").alias("n"),
    ).collect()[0]
    print(
        f"pmocr-spark: spell-fixed {tot['n']} rows ({tot['f']} tokens "
        f"corrected, {len(mapping)} dictionary corrections) to {args.output}"
    )


def _tokens():
    """The keyword modes' tokenization of the text column."""
    return F.split(F.lower(F.trim(F.col("text"))), r"\s+")


def _keywords(spark, args) -> None:
    from .operators import keywords

    docs = _as_text(_read_text_input(spark, args), args.text_col)
    method = args.keyword_method or "tfidf"
    topk = keywords.rake_topk if method == "rake" else keywords.tfidf_topk
    agg = _write(spark, topk(docs, _tokens(), k=args.keywords), args.output).agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("d"),
    ).collect()[0]
    print(
        f"pmocr-spark: extracted top-{args.keywords} {method} keywords "
        f"for {agg['d']} docs ({agg['n']} rows) to {args.output}"
    )


def _collocations(spark, args) -> None:
    from .operators.corpus_stats import llr_topk, pmi_topk

    df = spark.read.parquet(args.input)
    tc = args.text_col
    if tc not in df.columns:
        raise SystemExit(
            f"pmocr-spark: --collocations: {args.input} needs a {tc} "
            f"column (columns: {df.columns}; --text-col overrides)"
        )
    docs = _as_text(df, tc)
    toks = _tokens()
    n = F.size(toks)
    bg_arr = F.zip_with(
        F.slice(toks, 1, n - 1),
        F.slice(toks, 2, n - 1),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bgc = (
        docs.select(F.explode(bg_arr).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").cast("long").alias("cnt"))
    )
    wf = (
        docs.select(F.explode(toks).alias("word"))
        .filter(F.length("word") > 0)
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("freq"))
    )
    mc = 10 if args.colloc_min_count is None else args.colloc_min_count
    pmi = pmi_topk(bgc, wf, k=args.collocations, min_count=mc).select(
        F.lit("pmi").alias("method"),
        "bigram",
        "cnt",
        F.col("pmi_micro").alias("score_micro"),
    )
    llr = llr_topk(bgc, k=args.collocations, min_count=mc).select(
        F.lit("llr").alias("method"),
        "bigram",
        "cnt",
        F.col("llr_micro").alias("score_micro"),
    )
    agg = _write(spark, pmi.unionAll(llr), args.output).agg(
        F.count("*").alias("n"), F.countDistinct("bigram").alias("b")
    ).collect()[0]
    print(
        f"pmocr-spark: top-{args.collocations} collocations by pmi+llr "
        f"({agg['n']} rows, {agg['b']} distinct bigrams, min_count {mc}) "
        f"to {args.output}"
    )


def _kwic(spark, args) -> None:
    from .operators.keywords import kwic

    docs = _as_text(_read_text_input(spark, args), args.text_col)
    win = 2 if args.kwic_window is None else args.kwic_window
    term = args.kwic.strip().lower()
    agg = _write(spark, kwic(docs, _tokens(), term, window=win), args.output).agg(
        F.count("*").alias("n"), F.countDistinct("doc_id").alias("d")
    ).collect()[0]
    print(
        f"pmocr-spark: {agg['n']} occurrences of '{term}' "
        f"in {agg['d']} docs (window {win}) to {args.output}"
    )


def _srp_dedup(spark, args) -> None:
    from .operators.multimodal import srp_near_dup

    emb = _read_input(spark, args, ("vec_id", "embedding"))
    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise SystemExit(f"pmocr-spark: --srp-dedup: {args.input} is empty")
    vec = emb.select(
        F.col("vec_id").cast("string").alias("media_ref"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    pairs = srp_near_dup(vec, dim=int(first["d"]), **_max_hamming(args))
    n = _write(spark, pairs, args.output).count()
    print(f"pmocr-spark: {n} SRP embedding near-dup pairs written to {args.output}")


def _winnow_dedup(spark, args) -> None:
    from .operators.winnow import shared_fingerprint_pairs, winnow_fingerprints

    docs = _read_input(spark, args, ("doc_id", "text"))
    # the fingerprint table IS the reusable artifact (the MOSS index);
    # persist it next to the pairs so later probes skip re-winnowing
    # the corpus
    fps = _write(spark, winnow_fingerprints(docs), f"{args.output}.fps")
    min_shared = args.winnow_min_shared if args.winnow_min_shared is not None else 2
    n = _write(spark, shared_fingerprint_pairs(fps, min_shared=min_shared), args.output).count()
    nf = fps.count()
    print(
        f"pmocr-spark: {nf} winnow fingerprints ({args.output}.fps); "
        f"{n} match-candidate pairs (>= {min_shared} shared) written to "
        f"{args.output}"
    )


def _snm_dedup(spark, args) -> None:
    from .operators.dedup_index import ngram_rows
    from .queries import _snm_candidates

    docs = _read_input(spark, args, ("doc_id", "text"))
    w = args.snm_window if args.snm_window is not None else 4
    floor = args.snm_min_jaccard if args.snm_min_jaccard is not None else 0.05
    toks = F.split(F.lower(F.trim("text")), r"\s+")
    eligible = docs.filter(F.size(toks) >= 3)
    keyed = eligible.select("doc_id", F.concat_ws(" ", F.slice(toks, 1, 3)).alias("k"))
    cand = _snm_candidates(keyed, w=w)
    if (args.snm_passes or 1) == 2:
        # multi-pass merge/purge: an INDEPENDENT sort on the
        # last-3-token key catches pairs whose corrupted prefix
        # defeated the first pass; candidate sets union, the
        # verify below runs once over the union
        keyed2 = eligible.select("doc_id", F.concat_ws(" ", F.slice(toks, -3, 3)).alias("k"))
        cand = cand.unionAll(_snm_candidates(keyed2, w=w)).distinct()
    # exact shingle-Jaccard verify on candidates only (the q17
    # lsh_verified shape: candidate-doc semi-join BEFORE the
    # distinct shuffle)
    cdocs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    sh = (
        ngram_rows(docs.filter(F.size(toks) >= 3), 3, "shingle")
        .join(cdocs, "doc_id", "left_semi")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"), ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter"))
    pairs = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sza")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("szb")), "doc_b")
        .filter(jac >= floor)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
    )
    n = _write(spark, pairs, args.output).count()
    print(
        f"pmocr-spark: {n} sorted-neighborhood dedup pairs "
        f"(window {w}, jaccard >= {floor}) written to {args.output}"
    )


def _compress_postings(spark, args) -> None:
    from .operators.postings import decode_postings, encode_postings

    docs = _read_input(spark, args, ("doc_id", "text"))
    index = _write(spark, encode_postings(docs), args.output)
    agg = index.agg(
        F.coalesce(F.sum("n_postings"), F.lit(0)).alias("np"),
        F.coalesce(F.sum(F.length("payload")), F.lit(0)).alias("nb"),
    ).collect()[0]
    decoded = decode_postings(index).count()
    if decoded != agg.np:
        raise SystemExit(
            f"pmocr-spark: --compress-postings round-trip mismatch: "
            f"{agg.np} postings encoded, {decoded} decoded"
        )
    raw = agg.np * 8
    ratio = (agg.nb / raw) if raw else 0.0
    print(
        f"pmocr-spark: {agg.np} postings -> {agg.nb} payload bytes "
        f"({ratio:.3f}x of raw 8-byte ids; decode round-trip ok) "
        f"written to {args.output}"
    )


def _summarize(spark, args) -> None:
    from .operators.textrank import top_sentences

    docs = _read_input(spark, args, ("doc_id", "text"))
    k = args.summary_k if args.summary_k is not None else 2
    out = _write(spark, top_sentences(docs, k=k), args.output)
    n, nd = out.count(), out.select("doc_id").distinct().count()
    print(
        f"pmocr-spark: {n} summary sentences (top-{k}) over {nd} docs "
        f"written to {args.output}"
    )


def _audit_blobs(spark, args) -> None:
    from . import codecs
    from .operators.html_extract import HTML_KINDS

    blobs = spark.read.parquet(args.blobs)
    head6 = F.expr("substring(content, 1, 6)")
    head4 = F.expr("substring(content, 1, 4)")
    sniff = F.lower(F.expr("cast(substring(content, 1, 256) AS string)"))
    detected = (
        F.when(F.col("content").isNull(), "missing")
        .when(head6 == F.lit(codecs.IMG_MAGIC), "img")
        .when(head6 == F.lit(codecs.PDF_MAGIC), "pdf")
        .when(head4 == F.lit(codecs.AUDIO_MAGIC), "audio")
        .when(head4 == F.lit(codecs.VIDEO_MAGIC), "video")
        .when(sniff.contains("<html") | sniff.contains("<!doctype html"), "html")
        .otherwise("unknown")
    )
    kind_lc = F.lower(F.coalesce(F.col("kind"), F.lit("")))
    expected = (
        F.when(kind_lc == "pdf", "pdf")
        .when(kind_lc.isin(*codecs.IMAGE_KINDS), "img")
        .when(kind_lc.isin(*codecs.AUDIO_KINDS), "audio")
        .when(kind_lc.isin(*codecs.VIDEO_KINDS), "video")
        .when(kind_lc.isin(*HTML_KINDS), "html")
        .otherwise("unknown")
    )
    audited = blobs.select(
        "media_ref",
        "kind",
        detected.alias("detected"),
        (detected == expected).alias("ok"),
    )
    audited.filter(~F.col("ok")).select("media_ref", "kind", "detected").write.mode(
        "overwrite"
    ).parquet(args.output)
    counts = audited.groupBy("kind", "detected", "ok").count().orderBy("kind", "detected")
    n_bad = 0
    for r in counts.collect():
        print(
            f"pmocr-spark: audit kind={r['kind']} detected={r['detected']} "
            f"ok={r['ok']} n={r['count']}"
        )
        if not r["ok"]:
            n_bad += r["count"]
    print(f"pmocr-spark: audit wrote {n_bad} mismatched blobs to {args.output}")


def _corpus_stats(spark, args) -> None:
    from .operators.corpus_stats import corpus_datasheet

    docs = spark.read.parquet(args.input)
    if "text" not in docs.columns:
        raise SystemExit(f"pmocr-spark: --corpus-stats: {args.input} has no 'text' column")
    sheet = corpus_datasheet(docs)
    with open(args.output, "w") as fh:
        json.dump(sheet, fh, indent=1)
    print(
        f"pmocr-spark: datasheet for {sheet['n_docs']} docs "
        f"({sheet['total_tokens']} tokens, dup rate "
        f"{sheet['approx_exact_dup_rate']}) written to {args.output}"
    )


def _train_quality(spark, args) -> None:
    from .operators import quality_classifier as qc_op

    docs = _read_flat_docs(spark, args, "quality")
    model, _z = qc_op.train_quality_classifier(docs)
    qc_op.write_model(spark, args.output, model)
    print(
        f"pmocr-spark: trained quality model on {model['n_train']} docs "
        f"({model['iters']} iterations) to {args.output}"
    )


def _score_quality(spark, args) -> None:
    from .operators import quality_classifier as qc_op

    model = qc_op.read_model(spark, args.score_quality)
    docs = _read_flat_docs(spark, args, "quality")
    # idempotent over its own output (the --encode-bpe discipline)
    scores = qc_op.score_with_model(docs, model)
    out = docs.drop("lr_quality", "keep_quality").join(scores, "doc_id")
    stats = _write(spark, out, args.output).agg(
        F.count("*"), F.coalesce(F.sum("keep_quality"), F.lit(0))
    ).first()
    print(f"pmocr-spark: scored {stats[0]} docs ({stats[1]} keep) to {args.output}")


def _train_bpe(spark, args) -> None:
    from .operators import bpe as bpe_op

    min_count = args.bpe_min_count or bpe_op.DEFAULT_MIN_COUNT
    docs = _read_flat_docs(spark, args, "BPE")
    merges = bpe_op.learn_bpe(docs, args.train_bpe, min_count=min_count)
    bpe_op.write_model(spark, args.output, merges, min_count=min_count)
    print(
        f"pmocr-spark: learned {len(merges)} BPE merges "
        f"(requested {args.train_bpe}) to {args.output}"
    )


def _train_unigram(spark, args) -> None:
    from .operators import unigram_lm as uni_op

    docs = _read_flat_docs(spark, args, "tokenizer")
    model = uni_op.train_unigram(docs, args.train_unigram)
    uni_op.write_model(spark, args.output, model, args.train_unigram)
    print(
        f"pmocr-spark: trained {len(model)}-piece unigram-LM tokenizer "
        f"(requested {args.train_unigram}) to {args.output}"
    )


def _encode_tokens(spark, args, tok, model_dir, col, kind, tokens, unit) -> None:
    """Append `col` token arrays (and their count n_`col`) from the
    tokenizer module `tok`'s model at model_dir to the --input table."""
    model = tok.read_model(spark, model_dir)
    docs = _read_flat_docs(spark, args, kind)
    # drop pre-existing token columns so the mode is idempotent over its
    # own output (same discipline as --dedup-substrings)
    out = (
        docs.drop(col, f"n_{col}")
        .withColumn(col, tok.encode_udf(model)(F.col("text")))
        .withColumn(f"n_{col}", F.size(col).cast("long"))
    )
    n = _write(spark, out, args.output).agg(
        F.coalesce(F.sum(f"n_{col}"), F.lit(0)), F.count("*")
    ).first()
    print(
        f"pmocr-spark: encoded {n[1]} docs ({n[0]} {tokens} tokens, "
        f"{len(model)}-{unit} model) to {args.output}"
    )


def _encode_bpe(spark, args) -> None:
    from .operators import bpe

    _encode_tokens(spark, args, bpe, args.encode_bpe, "bpe_tokens", "BPE", "BPE", "merge")


def _encode_unigram(spark, args) -> None:
    from .operators import unigram_lm

    _encode_tokens(
        spark, args, unigram_lm, args.encode_unigram, "uni_tokens", "tokenizer", "unigram", "piece"
    )


def _warc_cdx(spark, args) -> None:
    from .sources.warc import read_warc_records, warc_cdx

    n = _write(spark, warc_cdx(read_warc_records(spark, args.input)), args.output).count()
    print(f"pmocr-spark: cdx index of {n} records written to {args.output}")


def _extract_links(spark, args) -> None:
    from .operators.linkgraph import edges_from_html

    edges = edges_from_html(spark.read.parquet(args.blobs))
    n = _write(spark, edges, args.output).count()
    print(f"pmocr-spark: extracted {n} host-level link edges to {args.output}")


def _eval_extraction(spark, args) -> None:
    from .operators.extraction_eval import edit_eval, micro_scores, rate_micro, token_eval

    tc = args.text_col
    ext = _read_text_input(spark, args, prefix="")
    gold = spark.read.parquet(args.eval_extraction)
    if "doc_id" not in gold.columns or "text" not in gold.columns:
        raise SystemExit(
            f"--eval-extraction: {args.eval_extraction} needs "
            f"(doc_id, text) columns (columns: {gold.columns})"
        )
    # LEFT join from gold: gold docs the pipeline never extracted
    # score recall 0 (the honest eval convention) instead of
    # silently dropping out of the average
    pairs = gold.select("doc_id", F.col("text").alias("_gold")).join(
        ext.select("doc_id", F.coalesce(F.col(tc), F.lit("")).alias("_ext")),
        "doc_id",
        "left",
    ).withColumn("_ext", F.coalesce(F.col("_ext"), F.lit("")))
    s = pairs.select(
        "doc_id",
        token_eval(F.col("_gold"), F.col("_ext")).alias("s"),
        edit_eval(F.col("_gold"), F.col("_ext")).alias("w"),
        F.levenshtein("_gold", "_ext").cast("long").alias("cdist"),
        F.length("_gold").cast("long").alias("n_gold_c"),
    ).select(
        "doc_id", "s.tp", "s.n_gold", "s.n_ext",
        "w.wdist", "w.n_gold_w", "cdist", "n_gold_c",
    )
    prec, rec, f1 = micro_scores(F.col("tp"), F.col("n_gold"), F.col("n_ext"))
    scored = s.select(
        "doc_id", "tp", "n_gold", "n_ext",
        prec.alias("prec_micro"), rec.alias("rec_micro"), f1.alias("f1_micro"),
        "cdist", "n_gold_c", "wdist", "n_gold_w",
        rate_micro(F.col("cdist"), F.col("n_gold_c")).alias("cer_micro"),
        rate_micro(F.col("wdist"), F.col("n_gold_w")).alias("wer_micro"),
    )
    agg = _write(spark, scored, args.output).agg(
        F.count("*").alias("n"),
        F.sum("tp").alias("tp"),
        F.sum("n_gold").alias("ng"),
        F.sum("n_ext").alias("ne"),
        F.avg("f1_micro").alias("macro_f1"),
        F.sum("cdist").alias("cd"),
        F.sum("n_gold_c").alias("ngc"),
        F.sum("wdist").alias("wd"),
        F.sum("n_gold_w").alias("ngw"),
    ).collect()[0]
    micro_p = (agg["tp"] or 0) * 1000000 // agg["ne"] if agg["ne"] else 0
    micro_r = (agg["tp"] or 0) * 1000000 // agg["ng"] if agg["ng"] else 0
    cer = (agg["cd"] or 0) * 1000000 // agg["ngc"] if agg["ngc"] else 0
    wer = (agg["wd"] or 0) * 1000000 // agg["ngw"] if agg["ngw"] else 0
    print(
        f"pmocr-spark: evaluated {agg['n']} docs -> {args.output}; "
        f"micro P={micro_p / 10000:.2f}% R={micro_r / 10000:.2f}%, "
        f"macro F1={(agg['macro_f1'] or 0) / 10000:.2f}%, "
        f"CER={cer / 10000:.2f}% WER={wer / 10000:.2f}%"
    )


def _robots_filter(spark, args) -> None:
    from .operators.robots import evaluate, rules_table

    urls = spark.read.parquet(args.input)
    if "host" not in urls.columns or "path" not in urls.columns:
        if "url" not in urls.columns:
            raise SystemExit(
                f"--robots-filter: {args.input} needs (host, path) "
                f"columns or a 'url' column (columns: {urls.columns})"
            )
        host_re = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/@]*@)?([^/:?#]+)"
        path_re = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^#]*)"
        raw_path = F.regexp_extract("url", path_re, 1)
        urls = urls.withColumn(
            "host", F.lower(F.regexp_extract("url", host_re, 1))
        ).withColumn("path", F.when(raw_path == "", F.lit("/")).otherwise(raw_path))
    robots = spark.read.parquet(args.robots_filter)
    missing = [c for c in ("host", "content") if c not in robots.columns]
    if missing:
        raise SystemExit(
            f"--robots-filter: {args.robots_filter} lacks column(s) "
            f"{missing}; expected a robots.txt blob table (host, content)"
        )
    agent = args.robots_agent or "*"
    res = _write(spark, evaluate(urls, rules_table(robots, agent=agent)), args.output)
    n = res.count()
    n_ok = res.filter(F.col("allowed") == 1).count()
    print(
        f"pmocr-spark: robots-filtered {n} urls for agent '{agent}': "
        f"{n_ok} allowed, {n - n_ok} disallowed -> {args.output}"
    )


def _pagerank(spark, args) -> None:
    from .operators.linkgraph import pagerank

    edges = spark.read.parquet(args.input)
    missing = [c for c in ("src", "dst") if c not in edges.columns]
    if missing:
        raise SystemExit(
            f"--pagerank: {args.input} lacks column(s) {missing}; "
            "expected an edges table (src, dst) — build one with "
            "--extract-links"
        )
    iters = args.pr_iters or 10
    n = _write(spark, pagerank(edges, iters=iters), args.output).count()
    print(f"pmocr-spark: pagerank ({iters} iters) over {n} hosts written to {args.output}")


def _lsh_plan(_spark, args) -> None:
    from .operators.lsh_plan import plan_bands

    parts = [x.strip() for x in args.lsh_plan.split(",")]
    if len(parts) < 2 or len(parts) > 4:
        raise SystemExit("pmocr-spark: --lsh-plan wants N_HASHES,THRESHOLD[,FP_W[,FN_W]]")
    try:
        plan = plan_bands(
            int(parts[0]),
            float(parts[1]),
            fp_weight=float(parts[2]) if len(parts) > 2 else 1.0,
            fn_weight=float(parts[3]) if len(parts) > 3 else 1.0,
        )
    except ValueError as e:
        raise SystemExit(f"pmocr-spark: --lsh-plan: {e}")
    print(json.dumps(plan))


def _optimize_layout(spark, args) -> None:
    from .operators.zorder import optimize_layout

    col_a, col_b = [c.strip() for c in args.optimize_layout.split(",")]
    df = spark.read.parquet(args.input)
    for c in (col_a, col_b):
        if c not in df.columns:
            raise SystemExit(f"pmocr-spark: --optimize-layout: no column {c!r} in {args.input}")
        if df.schema[c].dataType.simpleString() not in ("tinyint", "smallint", "int", "bigint"):
            raise SystemExit(
                f"pmocr-spark: --optimize-layout: column {c!r} is "
                f"{df.schema[c].dataType.simpleString()}; z-ordering needs an "
                "integer column (cast dates/timestamps to epoch first)"
            )
    n_files = args.layout_files if args.layout_files is not None else 16
    n = _write(spark, optimize_layout(df, col_a, col_b, n_files=n_files), args.output).count()
    print(
        f"pmocr-spark: z-ordered {n} rows on ({col_a}, {col_b}) into "
        f"{n_files} files at {args.output}"
    )


def _compact_output(spark, args) -> None:
    import math
    import os
    from urllib.parse import urlparse

    df = spark.read.option("recursiveFileLookup", "true").parquet(args.input)
    in_files = df.inputFiles()
    # size the output from the INPUT bytes (compression ratio is
    # preserved by a rewrite of the same rows); at cluster scale
    # the FS listing already carries sizes — locally, stat them
    total = 0
    for f in in_files:
        p = urlparse(f).path
        if os.path.exists(p):
            total += os.path.getsize(p)
    target_mb = args.target_file_mb if args.target_file_mb is not None else 128
    n_files = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    # deterministic row->file assignment: hash-repartition + sort
    # on the leading key column (the WET-sink discipline), so a
    # re-run compacts identically and downstream diffs are clean
    key = df.columns[0]
    out = df.repartition(n_files, F.col(key)).sortWithinPartitions(key)
    n = _write(spark, out, args.output).count()
    print(
        f"pmocr-spark: compacted {len(in_files)} files "
        f"({total / 1048576:.1f} MB) into {n_files} at {args.output} "
        f"({n} rows, key={key})"
    )


_IN = (("input",),)
_IN_OUT = (("input",), ("output",))
_IO = (("input", "output"),)
_BO = (("blobs", "output"),)
_TEXT = ("text_col",)
_TOPK = _at_least("search_topk", 1, "--search-topk must be >= 1")
_HAMMING = _within("phash_max_hamming", 0, 64, "--phash-max-hamming must be in [0, 64]")

#: every mode, keyed by flag: Mode(flag, runner, needs, checks, owns).
#: The 50 maintenance modes come first, in the order their "separate
#: maintenance modes" error lists them.
MODES = {
    m.flag: m
    for m in (
        Mode("--build-dedup-index", partial(_dedup_index, op="build"), _IN),
        Mode("--probe-dedup-index", partial(_dedup_index, op="probe"), _IN_OUT,
             owns=("probe_broadcast",)),
        Mode("--merge-dedup-index", partial(_dedup_index, op="merge"), _IN),
        Mode("--compact-dedup-index", partial(_dedup_index, op="compact")),
        # range(0)/range(-k) would silently train nothing while the
        # summary line claims a Lloyd-trained codebook
        Mode("--build-pq-index", partial(_pq_index, op="build"), _IN,
             (_at_least("train_codebook", 1, "--train-codebook ITERS must be >= 1"),),
             ("train_codebook",)),
        Mode("--append-pq-index", partial(_pq_index, op="append"), _IN),
        Mode("--probe-pq-index", partial(_pq_index, op="probe"), _IN_OUT,
             (_at_least("pq_topk", 1, "--pq-topk must be >= 1"),
              _at_least("ivf_nprobe", 1, "--ivf-nprobe must be >= 1")),
             ("rerank_vectors", "pq_topk", "ivf_nprobe")),
        Mode("--build-text-index", partial(_text_index, op="build"), _IN),
        Mode("--append-text-index", partial(_text_index, op="append"), _IN),
        Mode("--search-text", partial(_text_index, op="search"), (("query",), ("output",)),
             (_TOPK, (lambda a: a.max_df is not None and not 0 < a.max_df <= 1,
                      "--max-df must be in (0, 1]")),
             ("query", "max_df", "search_topk")),
        Mode("--search-phrase", _search_phrase, _IO, (_TOPK,), ("search_topk", *_TEXT)),
        # geometry is an index property persisted at build time —
        # appends/probes read it from the sidecar
        Mode("--build-bloom-index", partial(_bloom_index, op="build"), _IN,
             (_at_least("bloom_m", 2, "--bloom-m must be >= 2"),
              _at_least("bloom_k", 1, "--bloom-k must be >= 1")),
             ("bloom_m", "bloom_k", "bloom_key_col")),
        Mode("--append-bloom-index", partial(_bloom_index, op="append"), _IN,
             owns=("bloom_key_col",)),
        Mode("--probe-bloom-index", partial(_bloom_index, op="probe"), _IN_OUT,
             owns=("bloom_key_col",)),
        Mode("--compact-bloom-index", partial(_bloom_index, op="compact")),
        Mode("--compact-lineage", _compact_lineage, (("lineage",),), dest="compact_only"),
        Mode("--dedup-substrings", _dedup_substrings, _IO,
             (_at_least("substr_k", 2, "--substr-k must be >= 2"),), ("substr_k",)),
        Mode("--compact-substr-index", _compact_substr_index),
        Mode("--phash-dedup", partial(_blob_near_dup, op="phash_near_dup", what="visual"), _BO,
             (_HAMMING,), ("phash_max_hamming",)),
        Mode("--afp-dedup", partial(_blob_near_dup, op="audio_near_dup", what="audio"), _BO,
             (_HAMMING,), ("phash_max_hamming",)),
        Mode("--transcribe-audio", partial(_transcribe, what="audio"), _BO),
        Mode("--transcribe-video", partial(_transcribe, what="video"), _BO),
        Mode("--extract-markdown", _extract_markdown, _BO),
        Mode("--word-boxes", _word_boxes, _BO,
             ((lambda a: a.tables + a.hocr + a.layout > 1,
               "--tables, --hocr and --layout are mutually exclusive outputs"),),
             ("hocr", "tables", "layout")),
        Mode("--fix-text", _fix_text, _IO, owns=_TEXT),
        Mode("--spell-fix", _spell_fix, _IO, owns=_TEXT),
        Mode("--keywords", _keywords, _IO,
             (_at_least("keywords", 1, "--keywords K must be >= 1"),),
             ("keyword_method", *_TEXT)),
        Mode("--collocations", _collocations, _IO,
             (_at_least("collocations", 1, "--collocations K must be >= 1"),
              _at_least("colloc_min_count", 1, "--colloc-min-count must be >= 1")),
             ("colloc_min_count", *_TEXT)),
        Mode("--kwic", _kwic, _IO,
             ((lambda a: not a.kwic.strip(), "--kwic TERM must be non-empty"),
              _at_least("kwic_window", 0, "--kwic-window must be >= 0")),
             ("kwic_window", *_TEXT)),
        Mode("--srp-dedup", _srp_dedup, _IO,
             (_within("phash_max_hamming", 0, 64, "--phash-max-hamming must be in 0..64"),),
             ("phash_max_hamming",)),
        Mode("--winnow-dedup", _winnow_dedup, _IO,
             (_at_least("winnow_min_shared", 1, "--winnow-min-shared must be >= 1"),),
             ("winnow_min_shared",)),
        Mode("--snm-dedup", _snm_dedup, _IO,
             (_at_least("snm_window", 2, "--snm-window must be >= 2"),
              _within("snm_min_jaccard", 0.0, 1.0, "--snm-min-jaccard must be in [0, 1]")),
             ("snm_window", "snm_min_jaccard", "snm_passes")),
        Mode("--compress-postings", _compress_postings, _IO),
        Mode("--summarize", _summarize, _IO,
             (_at_least("summary_k", 1, "--summary-k must be >= 1"),), ("summary_k",)),
        Mode("--audit-blobs", _audit_blobs, _BO),
        Mode("--corpus-stats", _corpus_stats, _IO),
        Mode("--train-quality", _train_quality, _IO),
        Mode("--score-quality", _score_quality, _IO),
        Mode("--train-bpe", _train_bpe, _IO,
             (_at_least("train_bpe", 1, "--train-bpe must be >= 1 merges"),
              _at_least("bpe_min_count", 1, "--bpe-min-count must be >= 1")),
             ("bpe_min_count",)),
        Mode("--encode-bpe", _encode_bpe, _IO),
        Mode("--train-unigram", _train_unigram, _IO,
             (_at_least("train_unigram", 1, "--train-unigram VOCAB_SIZE must be >= 1"),)),
        Mode("--encode-unigram", _encode_unigram, _IO),
        Mode("--extract-links", _extract_links, _BO),
        Mode("--pagerank", _pagerank, _IO,
             (_at_least("pr_iters", 1, "--pr-iters must be >= 1"),), ("pr_iters",)),
        Mode("--robots-filter", _robots_filter, _IO, owns=("robots_agent",)),
        Mode("--eval-extraction", _eval_extraction, _IO, owns=_TEXT),
        Mode("--warc-cdx", _warc_cdx, _IO),
        Mode("--lsh-plan", _lsh_plan),
        Mode("--optimize-layout", _optimize_layout, _IO,
             ((lambda a: len([c for c in a.optimize_layout.split(",") if c.strip()]) != 2,
               "--optimize-layout wants exactly two columns: COL_A,COL_B"),
              _at_least("layout_files", 1, "--layout-files must be >= 1")),
             ("layout_files",)),
        Mode("--compact-output", _compact_output, _IO,
             (_at_least("target_file_mb", 1, "--target-file-mb must be >= 1"),),
             ("target_file_mb",)),
        Mode("--batch", _run_batch),
        Mode("--service", _run_service),
    )
}


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    if args.mode == "--lsh-plan":
        # pure driver-side arithmetic: no Spark session, instant
        _lsh_plan(None, args)
        return
    # resolve the engine BEFORE any Spark work: a missing tesseract
    # install (or an unknown name) fails fast at the CLI, not deep in an
    # executor task. 'codec' resolves to None = the env-driven default
    # UDF instance (identical behavior/plan to pre---engine builds).
    args.ocr_udf = None
    if args.engine != "codec":
        from . import engines

        args.ocr_udf = engines.ocr_udf_for(args.engine)
    from .session import get_spark

    spark = get_spark(app="pmocr_spark_job", master=args.master)
    MODES[args.mode].runner(spark, args)


if __name__ == "__main__":
    main()
