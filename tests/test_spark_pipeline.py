"""Spark-layer integration: extraction stage, W1/W2, checkpoint/resume,
metrics, streaming.  Runs on local[4]; marked slow-ish but still seconds."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pdf_parser_spark.operators.checkpoint import pending_urls, write_checkpoint
from pdf_parser_spark.operators.consistency import finalize
from pdf_parser_spark.operators.extract import extract_stage
from pdf_parser_spark.operators.metrics import status_summary, validation_rollup
from pdf_parser_spark.sources.pages import synthetic_pages, write_pages, read_pages

RUN_TS = "2026-08-16T00:00:00Z"
N_DOCS = 24


@pytest.fixture(scope="module")
def extracted(spark):
    pages = synthetic_pages(spark, N_DOCS)
    return extract_stage(pages, run_ts=RUN_TS).cache()


def test_extraction_stage_row_parity(spark, extracted):
    assert extracted.count() == N_DOCS


def test_extraction_matches_core_per_url(spark, extracted):
    """Spark output ≡ single-node core per url (the north-rule equivalence)."""
    from pdf_parser_spark.core.document import extract_document
    from pdf_parser_spark.sources.corpus import generate_corpus

    spark_rows = {r["url"]: r for r in extracted.collect()}
    for raw in generate_corpus(N_DOCS, 42):
        core = extract_document(raw["url"], raw["html"], raw["text"], RUN_TS)
        got = spark_rows[raw["url"]]
        assert got["status"] == core["status"]
        assert (got["markdown"] or "").encode() == core["markdown"].encode(), raw["url"]
        assert dict(got["mappings"] or {}) == core["mappings"]


def test_w1_sequence_deterministic_and_ordered(spark, extracted):
    final = finalize(extracted)
    rows = final.select("company_key", "filing_sequence", "period_end").collect()
    by_company: dict[str, list] = {}
    for r in rows:
        by_company.setdefault(r["company_key"], []).append(r)
    for key, grp in by_company.items():
        grp.sort(key=lambda r: r["filing_sequence"])
        periods = [r["period_end"] or "" for r in grp]
        assert periods == sorted(periods), key
        assert [r["filing_sequence"] for r in grp] == list(range(1, len(grp) + 1))


def test_w2_backfill_matches_core(spark, extracted):
    """Spark first-wins backfill ≡ core.backfill_mappings over the same order."""
    from pdf_parser_spark.core.taxonomy import first_wins_mappings

    final = finalize(extracted)
    ok = [r for r in final.where("status = 'ok'").collect() if r["mappings"]]
    ordered = sorted(ok, key=lambda r: ((r["period_end"] or ""), r["url"]))
    expected_global = first_wins_mappings([dict(r["mappings"]) for r in ordered])
    for r in ok:
        cons = dict(r["mappings_consistent"] or {})
        for label, canonical in cons.items():
            if canonical:
                assert canonical == expected_global.get(label, canonical)


def test_w2_first_wins_tuple_order_regression(spark):
    """r2 VERDICT item 4: the first-wins key must be TUPLE order
    (period_end asc, url asc), not string-concat order.  A digit-leading url
    with an empty period_end ('' + '1://...') would win under concat order;
    under tuple order the dated row wins because '' < '1997' puts the empty
    period first only when periods tie."""
    from pdf_parser_spark.operators.consistency import consistent_mappings

    rows = [
        # tuple key ('', '1://z') sorts FIRST (empty period before any date);
        # concat key '1://z' sorts AFTER '1997-12-31http://a' (':' > '9'),
        # so the two orderings pick different winners for X
        ("1://z", "", "ok", {"X": "win_tuple"}),
        ("http://a", "1997-12-31", "ok", {"X": "win_concat"}),
        # docC has X with an empty canonical -> backfilled with the winner
        ("http://c", "1997-12-31", "ok", {"X": ""}),
        # same-period url tie-break: digit-leading url wins under asc
        ("http://0", "1997-12-31", "ok", {"Cash": "from_0"}),
        ("http://b", "1997-12-31", "ok", {"Cash": ""}),
    ]
    df = spark.createDataFrame(
        rows, "url string, period_end string, status string, mappings map<string,string>"
    )
    out = {r["url"]: dict(r["mappings_consistent"])
           for r in consistent_mappings(df).collect()}
    assert out["http://c"]["X"] == "win_tuple"      # concat order -> win_concat
    assert out["http://a"]["X"] == "win_concat"     # own non-empty value kept
    assert out["http://b"]["Cash"] == "from_0"      # url asc tie-break


def test_dedup_pages_binary_fingerprint(spark):
    """r2 VERDICT item 4b: the content fingerprint hashes raw binary html —
    non-UTF-8 byte payloads that a string cast would mangle must still dedup
    exactly, and near-identical invalid-UTF-8 payloads must NOT collide."""
    from pdf_parser_spark.operators.pipeline import dedup_pages

    payload_a = bytes(range(256)) * 3          # invalid UTF-8, 768 bytes
    payload_b = payload_a[:-1] + b"\x01"       # differs in the last byte
    rows = [
        ("http://a1", payload_a, "t", "en"),
        ("http://a2", payload_a, "t", "en"),   # exact mirror -> dropped
        ("http://b1", payload_b, "t", "en"),   # 1-byte delta -> kept
        ("http://n1", None, "t", "en"),
        ("http://n2", None, "t", "en"),        # null-html mirror -> dropped
    ]
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.current_timestamp())
    urls = sorted(r["url"] for r in dedup_pages(df).select("url").collect())
    assert urls == ["http://a1", "http://b1", "http://n1"]


def test_build_training_corpus_funnel(spark, tmp_path):
    """The composite LLM-data funnel: exact mirrors die before extraction,
    failed docs die at the status filter, near-identical extractions resolve
    to one keeper, and the funnel stats audit every stage."""
    from pdf_parser_spark.operators.corpus_pipeline import build_training_corpus

    base = synthetic_pages(spark, 24)
    # exact mirrors of every page under a different (later-sorting) url
    mirror = base.withColumn("url", F.concat(F.lit("zz-mirror://"), F.col("url")))
    pages = base.unionByName(mirror)

    out, stats = build_training_corpus(
        pages, str(tmp_path / "corpus_build"), run_ts=RUN_TS
    )
    # mirrors collapse exactly: 48 -> 24 before Python
    assert stats["input"] == 48
    assert stats["after_exact_dedup"] == 24
    # funnel is monotone and ends non-empty
    assert (stats["after_exact_dedup"] >= stats["extracted_ok"]
            >= stats["gate_passed"] >= stats["final_corpus"] > 0)
    urls = [r["url"] for r in out.select("url").collect()]
    assert len(urls) == len(set(urls))
    assert all(not u.startswith("zz-mirror://") for u in urls)
    # the near-dup stage keeps one doc per LSH cluster: re-running the
    # pair+component logic over the FINAL corpus must find no losers
    from pdf_parser_spark.operators.dedup import (
        connected_components, minhash_lsh_pairs,
    )
    pairs = minhash_lsh_pairs(
        out.select(F.col("url").alias("doc_id"), F.col("markdown").alias("text"))
    )
    leftovers = connected_components(pairs).where(~F.col("is_keeper")).count()
    assert leftovers == 0
    # funnel stats sink carries the audit row
    fs = spark.read.parquet(str(tmp_path / "corpus_build" / "funnel_stats"))
    row = fs.collect()[0]
    assert row["input"] == 48 and row["final_corpus"] == stats["final_corpus"]


def test_streaming_dedup_drops_mirrors(spark, tmp_path):
    """Streaming dropDuplicates(fp): mirrors arriving in LATER micro-batches
    must be dropped by the dedup state, not just within-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.dedup import stream_dedup

    def write_batch(path, rows):
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["s"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_batch(str(in_dir / "b0.parquet"),
                [(1, "alpha text"), (2, "beta text"), (3, "ALPHA   TEXT")])
    q = stream_dedup(spark, str(in_dir), str(tmp_path / "ckpt"), "dedup_test")
    q.processAllAvailable()
    # batch 2: one cross-batch mirror (of doc 1) + one new doc
    write_batch(str(in_dir / "b1.parquet"),
                [(4, "alpha text"), (5, "gamma text")])
    q.processAllAvailable()
    q.stop()
    fps = [r["fp"] for r in spark.table("dedup_test").collect()]
    # alpha (docs 1/3/4 normalize to the same fp), beta, gamma -> 3 survivors
    assert len(fps) == 3 and len(set(fps)) == 3


def test_quality_gate_rules(spark):
    """Each gate rule fires on a doc engineered to violate exactly it."""
    from pdf_parser_spark.operators.textstats import quality_gate

    good = "the quick brown fox jumps over the lazy dog and " * 20
    rows = [
        (1, good),
        (2, "the cat sat"),                                   # too few tokens
        (3, "zz " * 200),                                     # no stopwords (+word_len)
        (4, good + " " + "#" * 400),                          # hash symbols
        (5, "\n".join(["the dog runs to a tree and stops..."] * 30)),  # ellipsis
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in quality_gate(df).collect()}
    assert out[1]["passed"] and out[1]["reasons"] == ""
    assert "too_few_tokens" in out[2]["reasons"]
    assert "no_stopwords" in out[3]["reasons"]
    assert "hash_symbols" in out[4]["reasons"]
    assert "ellipsis_lines" in out[5]["reasons"]


def test_repetition_stats_gopher_rules(spark):
    """Duplicate-line and top-2-gram rules fire on engineered docs; exact
    counters match hand computation; empty/one-token docs pass vacuously."""
    from pdf_parser_spark.operators.textstats import repetition_stats

    rows = [
        (1, "the cat sat\nthe cat sat\n\nunique para here with words\n\nthe cat sat"),
        (2, "spam spam spam spam spam spam spam spam"),  # top-2-gram covers all
        (3, ""),
        (4, "one"),
        (5, "a normal document with varied lines\nsecond line differs\n\n"
            "third paragraph is unique and long enough"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in repetition_stats(df).collect()}

    # doc 1: 'the cat sat' x3 of 4 lines (33 of 60 chars) -> dup-line fail
    assert (out[1]["n_lines"], out[1]["n_dup_lines"]) == (4, 3)
    assert (out[1]["dup_lines_chars"], out[1]["lines_chars"]) == (33, 60)
    assert out[1]["n_dup_paras"] == 0  # 2-line para != 1-line para
    assert not out[1]["rep_passed"]
    # doc 2: top 2-gram 'spam spam' count 7, 63 chars vs 32 non-ws -> fail
    assert (out[2]["top2_count"], out[2]["top2_chars"]) == (7, 63)
    assert not out[2]["rep_passed"]
    # empty / single-token docs: zero counters, vacuous pass
    for d in (3, 4):
        assert out[d]["top2_count"] == 0 and out[d]["rep_passed"]
    assert out[5]["rep_passed"]


def test_connected_components_transitive_chain(spark):
    """a<->b, b<->c must resolve to ONE component {a,b,c} with keeper=min;
    disjoint pairs stay separate; a long chain converges (multi-round
    propagation, not just one hop)."""
    from pdf_parser_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23), (23, 24)],
        "doc_a long, doc_b long",
    )
    rows = {r["doc_id"]: r for r in connected_components(pairs).collect()}
    assert {rows[n]["component"] for n in (1, 2, 3)} == {1}
    assert {rows[n]["component"] for n in (10, 11)} == {10}
    assert {rows[n]["component"] for n in (20, 21, 22, 23, 24)} == {20}
    keepers = {n for n, r in rows.items() if r["is_keeper"]}
    assert keepers == {1, 10, 20}


def test_keeper_election_quality_over_min_id(spark):
    """The cluster keeps its BEST copy: highest quality_bp wins even when a
    junk member has the smaller doc_id (where min-id election goes wrong);
    quality ties break doc_id asc; exactly one keeper per component."""
    from pdf_parser_spark.operators.dedup import keeper_election

    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1),          # cluster 1: junk low-id member
         (10, 10), (11, 10),              # cluster 10: quality tie
         (20, 20)],                       # singleton
        "doc_id long, component long",
    )
    scored = spark.createDataFrame(
        [(1, 0.1234), (2, 0.9), (3, 0.9001),
         (10, 0.5), (11, 0.5), (20, 0.0)],
        "doc_id long, quality double",
    )
    rows = {r["doc_id"]: r for r in keeper_election(comps, scored).collect()}
    keepers = {n for n, r in rows.items() if r["is_keeper"]}
    # 3 beats 2 beats 1 despite ids; 10 wins the tie; singleton keeps itself
    assert keepers == {3, 10, 20}
    # min-id election would have kept 1 — the junk copy
    assert not rows[1]["is_keeper"] and rows[1]["quality_bp"] == 1234
    # exactly one keeper per component, every member labeled
    from collections import Counter
    per_comp = Counter(r["component"] for r in rows.values() if r["is_keeper"])
    assert all(v == 1 for v in per_comp.values())
    assert set(per_comp) == {1, 10, 20}


def test_metrics_rollups(spark, extracted):
    statuses = {r["status"]: r["n_docs"] for r in status_summary(extracted).collect()}
    assert statuses.get("ok", 0) >= N_DOCS - 4
    roll = validation_rollup(extracted).first()
    assert roll["total_fail"] == 0
    assert roll["total_pass"] > 0


def test_checkpoint_resume_anti_join(spark):
    pages = synthetic_pages(spark, 12)
    out_dir = tempfile.mkdtemp(prefix="ckpt_")
    try:
        first_half = pages.limit(6)
        extracted = extract_stage(first_half, run_ts=RUN_TS, repartition=False)
        write_checkpoint(extracted, out_dir, run_id="r1")
        remaining = pending_urls(spark, pages, out_dir)
        assert remaining.count() == 6
        done_urls = {r["url"] for r in spark.read.parquet(f"{out_dir}/extracted").select("url").collect()}
        rem_urls = {r["url"] for r in remaining.select("url").collect()}
        assert not (done_urls & rem_urls)
        lineage = spark.read.parquet(f"{out_dir}/lineage")
        assert lineage.agg(F.sum("n_rows")).first()[0] == 6
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_run_batch_and_resume(spark):
    """Full batch pipeline: sinks written, then a resumed run only processes
    the pending remainder (kill-and-resume semantics, north-rule)."""
    from pdf_parser_spark.operators.pipeline import run_batch

    pages = synthetic_pages(spark, 12)
    out_dir = tempfile.mkdtemp(prefix="batch_")
    try:
        # first run over half the corpus
        final1 = run_batch(pages.limit(6), out_dir, run_ts=RUN_TS, run_id="r1")
        assert final1.count() == 6
        # resumed run over the full corpus: only 6 new rows extracted
        final2 = run_batch(pages, out_dir, run_ts=RUN_TS, run_id="r2", resume=True)
        assert final2.count() == 12
        extracted = spark.read.parquet(f"{out_dir}/extracted")
        assert extracted.count() == 12  # no row recomputed/duplicated
        lineage = spark.read.parquet(f"{out_dir}/lineage")
        by_run = {
            r["run_id"]: r["n"]
            for r in lineage.groupBy("run_id").agg(F.sum("n_rows").alias("n")).collect()
        }
        assert by_run == {"r1": 6, "r2": 6}
        # each run's lineage is one file, so its commit is one rename
        lineage_files = [
            f for f in os.listdir(f"{out_dir}/lineage") if f.endswith(".parquet")
        ]
        assert len(lineage_files) == 2
        # consistency table covers every url exactly once
        assert final2.select("url").distinct().count() == 12
        # filing_sequence is 1..n per company over the union
        for key, seqs in (
            final2.groupBy("company_key")
            .agg(F.sort_array(F.collect_list("filing_sequence")).alias("s"))
            .collect()
        ):
            assert list(seqs) == list(range(1, len(seqs) + 1)), key
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def test_pages_roundtrip_partition_layout(spark):
    pages = synthetic_pages(spark, 10)
    d = tempfile.mkdtemp(prefix="pages_")
    try:
        write_pages(pages, d)
        back = read_pages(spark, d)
        assert back.count() == 10
        assert set(back.columns) == {"url", "warc_ts", "html", "text", "lang"}
    finally:
        shutil.rmtree(d, ignore_errors=True)


def test_streaming_extract(spark):
    from pdf_parser_spark.streaming import stream_extract

    in_dir = tempfile.mkdtemp(prefix="stream_in_")
    out_dir = tempfile.mkdtemp(prefix="stream_out_")
    ckpt = tempfile.mkdtemp(prefix="stream_ckpt_")
    try:
        synthetic_pages(spark, 8).write.mode("overwrite").parquet(in_dir)
        q = stream_extract(spark, in_dir, out_dir, ckpt, run_ts=RUN_TS)
        q.processAllAvailable()
        q.stop()
        got = spark.read.parquet(out_dir)
        assert got.count() == 8
        assert got.where("status = 'ok'").count() >= 6
    finally:
        for d in (in_dir, out_dir, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_multimodal_media_features(spark):
    """Real header decoders (r2): BMP/PPM dims and WAV channel/rate/duration
    come from parsing actual container bytes; unknown formats keep the
    byte-stat fallback with media_type 'unknown'."""
    from pdf_parser_spark.operators.multimodal import (
        make_bmp, make_ppm, make_wav, media_features,
    )

    df = spark.createDataFrame(
        [
            (1, make_bmp(33, 17)),
            (2, make_wav(2, 16000, 480)),   # 480 samples @ 16 kHz -> 30 ms
            (3, make_ppm(5, 9)),
            (4, b"not-a-container"),
        ],
        "doc_id long, payload binary",
    )
    by_id = {r["doc_id"]: r for r in media_features(df).collect()}
    assert by_id[1]["media_type"] == "image/bmp"
    assert (by_id[1]["width"], by_id[1]["height"]) == (33, 17)
    assert by_id[1]["byte_len"] == 54 + ((33 * 3 + 3) // 4) * 4 * 17
    assert by_id[2]["media_type"] == "audio/wav"
    assert (by_id[2]["n_channels"], by_id[2]["sample_rate"]) == (2, 16000)
    assert by_id[2]["duration_ms"] == 30
    assert by_id[3]["media_type"] == "image/ppm"
    assert (by_id[3]["width"], by_id[3]["height"]) == (5, 9)
    assert by_id[4]["media_type"] == "unknown"
    assert by_id[4]["byte_len"] == 15 and by_id[4]["width"] is None
    # deterministic
    again = {r["doc_id"]: r for r in media_features(df).collect()}
    assert again == by_id


def test_multimodal_decoders_unit():
    """Header-parser edge cases without Spark: truncated headers, top-down
    BMP (negative height), PPM comments, WAV chunk iteration order."""
    from pdf_parser_spark.operators.multimodal import (
        _decode_bmp, _decode_ppm, _decode_wav, decode_media, make_bmp,
    )
    import struct

    assert _decode_bmp(b"BM" + b"\x00" * 10) is None           # truncated
    top_down = bytearray(make_bmp(10, 4))
    struct.pack_into("<i", top_down, 22, -4)                    # top-down flag
    assert _decode_bmp(bytes(top_down))["height"] == 4
    assert _decode_ppm(b"P6\n# comment\n7 3\n255\n" + b"\x00" * 63)["width"] == 7
    assert _decode_ppm(b"P6\nxx") is None
    assert _decode_wav(b"RIFF\x04\x00\x00\x00WAVE") is None     # no fmt/data
    out = decode_media(b"")
    assert out["media_type"] == "unknown" and out["byte_len"] == 0


_NULL_GUARD_FACES = [
    ("pdflayout", f) for f in (
        "pdf_layout", "pdf_text", "pdf_tables", "pdf_scanned_audit",
        "pdf_outline", "pdf_links", "pdf_table_strategy_audit")
] + [
    ("multimodal", f) for f in (
        "media_features", "transform_media", "sample_ppm_frames",
        "audio_energy", "audio_segments", "shot_boundaries",
        "audio_spectral_peaks", "image_ahash", "image_dhash", "image_phash",
        "image_overlay_captures", "image_neardup", "video_captures",
        "video_neardup")
]


@pytest.mark.parametrize("module,face", _NULL_GUARD_FACES)
def test_byte_faces_read_null_payload_as_empty(spark, module, face):
    """Registry-family guard over every Arrow-backed face of both byte
    families: a null payload never raises, and its rows are exactly the
    rows of an empty payload (the shared parse stage reads null as b"").
    The first output column is the document key (doc_id / cap_id /
    cap_a)."""
    import importlib

    mod = importlib.import_module(f"pdf_parser_spark.operators.{module}")
    df = spark.createDataFrame(
        [(1, None), (2, b"")], "doc_id long, payload binary")
    out = getattr(mod, face)(df)
    rows = out.collect()
    key = out.columns[0]

    def rows_of(d):
        return sorted((tuple(r)[1:] for r in rows if r[key] == d), key=repr)

    assert {r[key] for r in rows} <= {1, 2}
    assert rows_of(1) == rows_of(2)


def test_streaming_sessionize_matches_batch(spark):
    """Stateful applyInPandasWithState sessionizer == batch lag/cumsum W4."""
    from pdf_parser_spark.plans.relational import w4_sessionize
    from pdf_parser_spark.streaming.sessionize import sessionize_via_stream

    sf = "/root/testdata/sf0.001"
    stream = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_value"])
        for r in sessionize_via_stream(spark, sf).collect()
    }
    batch = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["session_value"])
        for r in w4_sessionize(spark, sf).collect()
    }
    assert stream == batch and len(stream) > 0


def test_gapfill_forward_fill(spark, tmp_path):
    """Gap-fill pins: the grid spans each type's OWN [first, last] hour
    (no leading nulls by construction), empty hours appear with n_events 0
    and the previous mean carried forward, observed hours keep their own
    mean, and a multi-hour gap repeats the same carried value."""
    import datetime as dt

    from pdf_parser_spark.plans import relational as R

    utc = dt.timezone.utc
    t = lambda h, m=0: dt.datetime(2024, 3, 1, h, m, tzinfo=utc)  # noqa: E731
    rows = [
        (1, t(10, 5), 1, "a", 2.0, "{}"),
        (2, t(10, 50), 1, "a", 4.0, "{}"),   # hour 10: mean 3.0
        # hours 11, 12 empty (a 2-hour gap)
        (3, t(13, 0), 1, "a", 8.0, "{}"),    # hour 13: mean 8.0
        (4, t(20, 0), 1, "b", 5.0, "{}"),    # type b: single hour
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    got = [(r["event_type"], r["n_events"], r["filled_value"], r["is_gap"])
           for r in R.a_gapfill(spark, str(tmp_path)).collect()]
    assert got == [
        ("a", 2, 3.0, False),
        ("a", 0, 3.0, True),
        ("a", 0, 3.0, True),
        ("a", 1, 8.0, False),
        ("b", 1, 5.0, False),
    ]


def test_range_join_buckets_and_bounds(spark, tmp_path):
    """Bucketed interval join pins: start inclusive, end exclusive, gap
    events drop, an event landing in an interval's SECOND covered bucket
    still matches (the explode fan-out), and the plan is a real equi join
    — no nested-loop/cartesian anywhere."""
    import datetime as dt

    from pdf_parser_spark.plans import relational as R

    utc = dt.timezone.utc
    t0 = dt.datetime(2024, 1, 1, 0, 0, tzinfo=utc)
    h = dt.timedelta(hours=1)
    # interval 0 = [00:00, 05:00) over 3h buckets -> covers buckets 0 and 1
    rows = [
        (1, t0, 1, "x", 1.0, "{}"),                  # == start: in
        (2, t0 + 5 * h, 1, "x", 1.0, "{}"),          # == end: OUT
        (3, t0 + 4 * h, 1, "x", 1.0, "{}"),          # second bucket: in
        (4, t0 + 6 * h, 1, "x", 1.0, "{}"),          # gap before iv1: OUT
        (5, t0 + 7 * h, 1, "x", 1.0, "{}"),          # iv1 start: in
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    out = R.j_range_join(spark, str(tmp_path))
    got = {r["interval_id"]: (r["n_events"], r["min_event_id"], r["max_event_id"])
           for r in out.collect()}
    assert got == {0: (2, 1, 3), 1: (1, 5, 5)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_session_window_boundary_vs_w4(spark, tmp_path):
    """The off-by-boundary pin: an event at EXACTLY prev + gap MERGES
    under native session_window (measured — touching windows do merge,
    the same inclusive rule as W4; the first draft assumed strict and
    this test caught it), and a sub-boundary event merges too; both
    faces must agree on the engineered boundary corpus."""
    import datetime as dt

    from pdf_parser_spark.plans.relational import w4_sessionize, w6_session_window

    utc = dt.timezone.utc
    t0 = dt.datetime(2024, 2, 1, 8, 0, 0, tzinfo=utc)
    s = dt.timedelta(seconds=1)
    rows = [
        (1, t0, 1, "x", 1.0, "{}"),
        (2, t0 + 1800 * s, 1, "x", 1.0, "{}"),      # == gap: w6 splits
        (3, t0 + 7200 * s, 1, "x", 1.0, "{}"),      # far: both split
        (4, t0 + 7200 * s + 1799 * s, 1, "x", 1.0, "{}"),  # within: both merge
    ]
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string"
    ).write.parquet(str(tmp_path / "events.parquet"))
    w6 = [(r["session_start_s"], r["n_events"])
          for r in w6_session_window(spark, str(tmp_path)).collect()]
    w4 = [r["n_events"] for r in w4_sessionize(spark, str(tmp_path)).collect()]
    e0 = int(t0.timestamp())
    assert w6 == [(e0, 2), (e0 + 7200, 2)]  # boundary pair MERGED
    assert sorted(w4) == [2, 2]             # same inclusive rule as W4


def test_w5_funnel_strict_ordering(spark, tmp_path):
    """Funnel pins: a click at EXACTLY the first-view instant does not
    convert (strict >), pre-view clicks never count, purchase must follow
    the counted click (not just any click), and conversion bp is exact
    integer division of step-1 users."""
    import datetime as dt

    from pdf_parser_spark.plans.relational import w5_funnel

    utc = dt.timezone.utc
    t = lambda m: dt.datetime(2026, 1, 1, 12, m, tzinfo=utc)  # noqa: E731
    rows = [
        # u1: full ordered funnel
        (1, t(0), 1, "view", 1.0, "{}"), (2, t(1), 1, "click", 1.0, "{}"),
        (3, t(2), 1, "purchase", 1.0, "{}"),
        # u2: click at exactly the view instant -> step2 NOT converted,
        # purchase after it also not (no t2)
        (4, t(0), 2, "view", 1.0, "{}"), (5, t(0), 2, "click", 1.0, "{}"),
        (6, t(5), 2, "purchase", 1.0, "{}"),
        # u3: click BEFORE the first view only -> not converted
        (7, t(5), 3, "view", 1.0, "{}"), (8, t(1), 3, "click", 1.0, "{}"),
        # u4: purchase lands between view and the first valid click ->
        # step3 not converted (strictly AFTER t2 required)
        (9, t(0), 4, "view", 1.0, "{}"), (10, t(3), 4, "purchase", 1.0, "{}"),
        (11, t(4), 4, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.parquet(str(tmp_path / "events.parquet"))
    got = [(r["step"], r["step_name"], r["n_users"], r["conv_bp"])
           for r in w5_funnel(spark, str(tmp_path)).collect()]
    assert got == [
        (1, "view", 4, 10000),
        (2, "click", 2, 5000),     # u1 and u4
        (3, "purchase", 1, 2500),  # u1 only
    ]


def test_xbrl_dimension_operators(spark):
    """N6 unit-preference/segment/period rules + N7 '/A' normalization (SURVEY
    §2.7; ref edgar_client.py:116-295)."""
    from pdf_parser_spark.operators.xbrl import accession_lookup, statement_facts
    from pdf_parser_spark.sources import xbrl as X

    facts = statement_facts(X.facts_df(spark, n_companies=2)).collect()
    assert facts, "no facts survived"
    # <=4 periods per (cik, concept); preferred unit only; no segments survive
    from collections import Counter
    per_cc = Counter((r["cik"], r["concept"]) for r in facts)
    assert max(per_cc.values()) <= 4
    assert {r["unit"] for r in facts} == {"USD"}
    # longest duration wins: every kept 2024-12-31 fact must be the YTD row
    for r in facts:
        if str(r["end_date"]) == "2024-12-31":
            assert str(r["start_date"]) == "2024-01-01"

    req = spark.createDataFrame(X.requests_rows(2), X.REQUESTS_SCHEMA)
    acc = accession_lookup(req, X.submissions_df(spark, n_companies=2)).collect()
    by_key = {(r["cik"], str(r["report_date"])): r["accession"] for r in acc}
    assert by_key[("9999999999", "2024-12-31")] is None  # guaranteed miss
    hits = [a for a in by_key.values() if a is not None]
    assert len(hits) >= 4  # '/A'-flipped requests still resolve


def test_structural_quality_harness(spark):
    """The reference's 9 output checks (test_runner.py:358-368) as a fleet
    stage: clean SEC filings pass all 9; degraded families fail the expected
    subset (FIXTURES.md §6 structural gate)."""
    from pdf_parser_spark.operators.extract import extract_stage
    from pdf_parser_spark.operators.quality import (
        quality_summary, structural_check_stage,
    )

    ext = extract_stage(synthetic_pages(spark, 40), run_ts=RUN_TS).where(
        "status = 'ok'"
    )
    checks = structural_check_stage(ext).persist()
    # clean filing family = urls with /q[1-4]/ paths: all 9 checks pass
    clean_fail = checks.where(
        "url rlike '/q[1-4]/' AND NOT passed"
    ).count()
    assert clean_fail == 0, f"{clean_fail} failed checks on clean filings"
    # degraded families fail financial-table checks (placeholders, no pipes)
    degraded_fail = checks.where(
        "(url rlike '/news/|/artifacts/') AND check = 'financial_tables_formatted' AND NOT passed"
    ).count()
    assert degraded_fail > 0
    summary = {r["check"]: r for r in quality_summary(checks).collect()}
    assert len(summary) == 9
    assert summary["table_structure_valid"]["pass_rate"] == 1.0


def test_bucketed_join_no_shuffle(spark):
    """Two tables bucketed on url (write_bucketed_table) equi-join with ZERO
    Exchange in the physical plan — the Iceberg bucket(N, url) co-location
    contract, parquet edition."""
    from pdf_parser_spark.sources.pages import write_bucketed_table

    base = tempfile.mkdtemp(prefix="buckets_")
    try:
        pages = synthetic_pages(spark, 24).select("url", "lang", "warc_ts")
        stats = pages.select("url", F.length("url").alias("n"))
        write_bucketed_table(pages, "t_pages_b", f"{base}/pages", buckets=4)
        write_bucketed_table(stats, "t_stats_b", f"{base}/stats", buckets=4)
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("t_pages_b").join(spark.table("t_stats_b"), "url")
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert joined.count() == 24
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        for t in ("t_pages_b", "t_stats_b"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(base, ignore_errors=True)


def test_job_cli_smoke(spark, monkeypatch, capsys):
    """python -m pdf_parser_spark --synthesize: full batch + summary print.
    Reuses the session via a get_spark monkeypatch (the CLI normally owns its
    session lifecycle)."""
    import pdf_parser_spark.__main__ as job

    out = tempfile.mkdtemp(prefix="job_out_")
    try:
        import pdf_parser_spark.session as sess

        monkeypatch.setattr(sess, "get_spark", lambda *a, **k: spark)
        monkeypatch.setattr(spark, "stop", lambda: None)
        rc = job.main([
            "--synthesize", "20", "--output", out,
            "--run-ts", RUN_TS, "--quality-report",
        ])
        assert rc == 0
        printed = capsys.readouterr().out
        assert "batch complete" in printed and "structural quality" in printed
        assert spark.read.parquet(f"{out}/extracted").count() == 20
        assert spark.read.parquet(f"{out}/consistency").count() > 0
        # a second call with --resume and the default (per-call) run id
        # extracts nothing again: each url once, lineage sums equal rows
        rc = job.main([
            "--synthesize", "20", "--output", out,
            "--run-ts", RUN_TS, "--resume",
        ])
        assert rc == 0
        extracted = spark.read.parquet(f"{out}/extracted")
        assert extracted.count() == extracted.select("url").distinct().count() == 20
        lineage = spark.read.parquet(f"{out}/lineage")
        assert lineage.agg(F.sum("n_rows")).first()[0] == 20
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_fleet_xbrl_cross_validation(spark, tmp_path):
    """V8 fleet-wide: the batch job with an XBRL dimension writes a
    per-(url, concept) severity sink joined on the corpus issuers' ciks
    (ref pipeline.py:272-317 as a broadcast join, not per-doc HTTP)."""
    from pdf_parser_spark.operators.pipeline import run_batch
    from pdf_parser_spark.sources.pages import synthetic_pages
    from pdf_parser_spark.sources.xbrl import corpus_facts_df

    out = str(tmp_path / "xv")
    run_batch(
        synthetic_pages(spark, n_docs=40),
        out,
        run_ts="2026-08-16T00:00:00Z",
        xbrl_facts=corpus_facts_df(spark),
    )
    xv = spark.read.parquet(f"{out}/xbrl_validation")
    rows = xv.collect()
    assert rows, "no cross-validation rows"
    assert set(xv.columns) == {
        "url", "cik", "concept", "pdf_val", "xbrl_val", "severity"
    }
    sevs = {r["severity"] for r in rows}
    assert sevs <= {"match", "minor", "major", "pdf_only"}
    # the synthetic facts are independent of the corpus numbers, so joined
    # concepts must exist and disagree (major) rather than silently match
    joined = [r for r in rows if r["xbrl_val"] is not None]
    assert joined, "facts dimension never joined by cik"
    # every ok filing with a cik contributes rows
    n_urls = xv.select("url").distinct().count()
    assert n_urls >= 20, n_urls


def test_dedup_pages_before_extraction(spark):
    """dedup=True collapses byte-identical pages to the min-url keeper BEFORE
    the Arrow stage (crawl mirrors never reach Python)."""
    from pdf_parser_spark.operators.pipeline import dedup_pages, run_batch

    base = synthetic_pages(spark, 10)
    mirror = base.withColumn("url", F.concat(F.lit("zz-mirror://"), F.col("url")))
    pages = base.unionByName(mirror)  # 20 rows, 10 distinct payloads

    deduped = dedup_pages(pages)
    urls = [r["url"] for r in deduped.select("url").collect()]
    assert len(urls) == 10
    assert all(not u.startswith("zz-mirror://") for u in urls)  # min-url keeper

    out = tempfile.mkdtemp(prefix="dedup_batch_")
    try:
        final = run_batch(pages, out, run_ts=RUN_TS, dedup=True)
        assert final.count() == 10
        assert spark.read.parquet(f"{out}/extracted").count() == 10
    finally:
        shutil.rmtree(out, ignore_errors=True)


def test_weburl_canonicalize_and_domains(spark):
    """Hand-computed canonicalization + registered-domain edge cases:
    default-port strip only for the matching scheme, tracking-param drop +
    sort, fragment strip, trailing-slash collapse, single-label host,
    unmatched suffix fallback, multi-label public suffix."""
    from pdf_parser_spark.operators.weburl import (
        blocklist_filter, canonicalize, registered_domain,
    )

    rows = [
        (1, "HTTPS://WWW.Ex.CO.UK:443/a/b//?utm_source=f&z=2&a=1#frag"),
        (2, "http://ex.org:80/docs/2?utm_x=1&ref=tw"),   # all params tracked
        (3, "https://ex.io:80/p"),                       # :80 on https kept
        (4, "http://localhost/x/"),                      # single label
        (5, "https://a.b.internal/q?b=2&a=1"),           # no suffix match
        (6, "https://deep.sub.ex.example.com"),          # multi-label suffix
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r for r in registered_domain(canonicalize(df)).collect()}

    assert out[1]["canonical_url"] == "https://www.ex.co.uk/a/b?a=1&z=2"
    assert out[2]["canonical_url"] == "http://ex.org/docs/2"
    assert out[3]["canonical_url"] == "https://ex.io:80/p"
    assert out[4]["canonical_url"] == "http://localhost/x"
    assert out[5]["canonical_url"] == "https://a.b.internal/q?a=1&b=2"
    assert out[6]["canonical_url"] == "https://deep.sub.ex.example.com/"

    assert out[1]["reg_domain"] == "ex.co.uk"
    assert out[4]["reg_domain"] == "localhost"
    assert out[5]["reg_domain"] == "b.internal"  # fallback: last label as suffix
    assert out[6]["reg_domain"] == "ex.example.com"

    kept = blocklist_filter(df, ["ex.co.uk", "ex.example.com"])
    assert sorted(r["doc_id"] for r in kept.collect()) == [2, 3, 4, 5]


def test_surt_keys_and_cdx_contiguity(spark):
    """SURT pins: label reversal with comma joins, exactly ONE leading
    www. folded (an interior or host-named www survives), non-default port
    kept inside the authority, params already canonical-sorted; and the
    index property the transform exists for — lexicographically sorting
    SURT keys makes every authority a contiguous run."""
    from pdf_parser_spark.operators.weburl import (
        canonicalize, cdx_authority_index, surt_key, with_synthetic_urls,
    )

    rows = [
        (1, "HTTPS://WWW.news.Example.CO.UK:8080/a/b?z=2&a=1#f"),
        (2, "http://www.ex.org/docs/2"),
        (3, "http://www.com/x"),            # host IS www.com: www label folds
        (4, "https://sub.www.ex.io/y"),     # interior www survives
        (5, "http://ex.org:443/p"),         # non-default :443 on http kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r["surt"] for r in surt_key(canonicalize(df)).collect()}
    assert out[1] == "uk,co,example,news:8080)/a/b?a=1&z=2"
    assert out[2] == "org,ex)/docs/2"
    assert out[3] == "com)/x"
    assert out[4] == "io,ex,www,sub)/y"
    assert out[5] == "org,ex:443)/p"

    # contiguity: over the synthetic corpus, sort all surts globally —
    # each authority's captures must form one unbroken run
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    surts = sorted(
        r["surt"] for r in
        surt_key(canonicalize(with_synthetic_urls(docs))).collect()
    )
    auths = [s.split(")")[0] for s in surts]
    seen, prev = set(), None
    for a in auths:
        if a != prev:
            assert a not in seen  # a second run of this authority = broken
            seen.add(a)
            prev = a
    idx = {r["authority"]: r for r in cdx_authority_index(docs).collect()}
    assert sum(r["n_captures"] for r in idx.values()) == docs.count()
    for a, r in idx.items():
        assert r["min_surt"].startswith(a + ")") or r["min_surt"].startswith(a)
        assert r["min_surt"] <= r["max_surt"]


def test_cdx_lookup_touches_one_shard(spark, tmp_path):
    """The read path write_cdx sorts FOR: an authority lookup selects its
    shard(s) from the boundary table and reads only those files — result
    equals the full-scan filter, and the scan provably touched a strict
    subset of the shards."""
    from pdf_parser_spark.operators.weburl import (
        canonicalize, cdx_lookup, surt_key, with_synthetic_urls, write_cdx,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "cdx")
    bounds = write_cdx(docs, out, n_shards=4)
    # pick a real authority from the corpus
    some = surt_key(canonicalize(with_synthetic_urls(docs))).select(
        "surt").first()["surt"]
    auth = some.split(")")[0]
    hit = cdx_lookup(spark, out, bounds, auth)
    full = spark.read.parquet(out).where(
        F.col("surt").startswith(auth + ")"))
    assert sorted(r["surt"] for r in hit.collect()) \
        == sorted(r["surt"] for r in full.collect())
    assert hit.count() > 0
    touched = {r["f"] for r in hit.select(
        F.input_file_name().alias("f")).distinct().collect()}
    assert len(touched) < 4  # strictly fewer shards than the table has


def test_cdx_lookup_join_composable(spark, tmp_path):
    """The composable CDX read (r3 verdict item 5): a FRAME of authorities
    resolves through a pure DataFrame plan — results equal the full-scan
    prefix filter per authority, the plan is a broadcast hash join (never
    a nested loop over captures), and an empty authorities frame returns
    empty without error."""
    from pdf_parser_spark.operators.weburl import (
        canonicalize, cdx_lookup_join, surt_key, with_synthetic_urls,
        write_cdx,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "cdx")
    bounds = write_cdx(docs, out, n_shards=4)
    surts = surt_key(canonicalize(with_synthetic_urls(docs)))
    auths = sorted({r["surt"].split(")")[0]
                    for r in surts.select("surt").limit(40).collect()})[:3]
    adf = spark.createDataFrame([(a,) for a in auths], "authority string")

    got = cdx_lookup_join(spark, out, bounds, adf)
    plan = got._jdf.queryExecution().executedPlan().toString()
    # capture side joins by HASH on file; the range nested-loop exists only
    # between the index-sized frames INSIDE the broadcast build side (it
    # must sit below the hash join and never touch the capture columns)
    assert "BroadcastHashJoin" in plan
    assert plan.index("BroadcastHashJoin") < plan.index("BroadcastNestedLoopJoin")
    assert "canonical_url" not in plan.split("BroadcastNestedLoopJoin")[1]
    rows = [(r["authority"], r["surt"], r["doc_id"]) for r in got.collect()]
    full = spark.read.parquet(out)
    expect = []
    for a in auths:
        expect += [(a, r["surt"], r["doc_id"]) for r in
                   full.where(F.col("surt").startswith(a + ")")).collect()]
    assert sorted(rows) == sorted(expect) and len(rows) > 0
    # empty frame -> empty result, no error
    empty = cdx_lookup_join(
        spark, out, bounds,
        spark.createDataFrame([], "authority string"))
    assert empty.count() == 0


def test_write_cdx_sorted_disjoint_shards(spark, tmp_path):
    """CDX write pins: every shard is internally SURT-sorted, shard ranges
    are pairwise disjoint (the binary-searchable property), the boundary
    table covers every capture, and no authority straddles shards it
    doesn't have to (each shard's range is contiguous in the global
    order)."""
    from pdf_parser_spark.operators.weburl import write_cdx

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = str(tmp_path / "cdx")
    idx = write_cdx(docs, out, n_shards=4).collect()
    assert sum(r["n_rows"] for r in idx) == docs.count()
    # shard ranges sorted by min must be pairwise disjoint
    for a, b in zip(idx, idx[1:]):
        assert a["max_surt"] < b["min_surt"]
    # every shard file is internally sorted (parquet preserves row order)
    import pyarrow.parquet as pq
    import glob
    for f in glob.glob(f"{out}/*.parquet"):
        surts = pq.read_table(f, columns=["surt"])["surt"].to_pylist()
        assert surts == sorted(surts)


def test_lsh_topk_identical_and_opposite_vectors(spark):
    """Identical vectors share every plane sign -> must collide and rank
    first with cos 1.0; an exactly opposite vector flips every decided bit
    -> never collides with its antipode."""
    from pdf_parser_spark.operators.similarity import lsh_topk

    base = [0.9, -0.4, 0.2, 0.7]
    rows = [
        (0, [float(x) for x in base], 0),
        (1, [float(x) for x in base], 0),            # exact duplicate
        (2, [float(-x) for x in base], 0),           # antipode
        (3, [float(x * 0.95 + 0.01) for x in base], 0),  # near-dup
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = lsh_topk(emb, n_queries=3, k=3)
    got = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["cos_sim"])
           for r in out.collect()}
    assert got[(0, 1)][0] == 1 and got[(0, 1)][1] == 1.0
    assert got[(1, 1)][0] == 0 and got[(1, 1)][1] == 1.0
    # the antipode never appears in either direction
    assert all(n != 2 for q in (0, 1) for (n, _) in [got[(q, r)] for r in (1, 2) if (q, r) in got])
    assert not any(q == 2 and n in (0, 1) for (q, _), (n, _s) in got.items())


def test_kmeans_sample_fit_and_persisted_centroids(spark, tmp_path):
    """Fit-on-sample (VERDICT r2 item 6): (a) the md5-deterministic sample
    fit matches its numpy twin exactly (same seeds-within-sample, same
    rounding), (b) recall@3 of sample-fit IVF is within 0.05 of the full
    fit, (c) save/load round-trips the quantizer so ivf_topk(loaded) is
    byte-identical to ivf_topk(fitted) — the amortized-fit mode."""
    import hashlib

    import numpy as np

    from pdf_parser_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.kmeans_fit(emb, sample_bp=S.KMEANS_SAMPLE_BP)

    # (a) numpy twin: full-table seeds, md5-sample Lloyd rounds
    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    Xall = np.asarray([v for _, v in rows], dtype=np.float64)
    twin = np.round(Xall[:S.KMEANS_K].copy(), S.KMEANS_ROUND_DP)
    X = np.asarray(
        [v for i, v in rows
         if int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16) % 10000
         < S.KMEANS_SAMPLE_BP],
        dtype=np.float64,
    )
    assert 0 < len(X) < len(rows)  # the sample filter actually bites
    for _ in range(S.KMEANS_ITERS):
        d2 = ((X[:, None, :] - twin[None, :, :]) ** 2).sum(-1)
        assign = d2.argmin(1)
        new = twin.copy()
        for c in range(S.KMEANS_K):
            if (assign == c).any():
                new[c] = X[assign == c].mean(0)
        new = np.round(new, S.KMEANS_ROUND_DP)
        if (new == twin).all():
            break
        twin = new
    assert cents == [[float(x) for x in row] for row in twin]

    # (b) recall@3 within 0.05 of the full fit — at sf0.1 (the VERDICT
    # criterion's scale; 10-query recall at smaller sf is seed-noise)
    emb1 = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb1).collect()}
    full = S.kmeans_fit(emb1)
    samp = S.kmeans_fit(emb1, sample_bp=S.KMEANS_SAMPLE_BP)
    r_full = len(brute & {(r["query_id"], r["neighbor_id"])
                          for r in S.ivf_topk(emb1, centroids=full).collect()})
    r_samp = len(brute & {(r["query_id"], r["neighbor_id"])
                          for r in S.ivf_topk(emb1, centroids=samp).collect()})
    assert r_samp >= r_full - 0.05 * len(brute)

    # (c) persisted quantizer round-trip -> identical IVF output
    path = str(tmp_path / "centroids")
    S.save_centroids(spark, cents, path)
    loaded = S.load_centroids(spark, path)
    assert loaded == cents
    a = sorted(map(tuple, S.ivf_topk(emb, centroids=loaded).collect()))
    b = sorted(map(tuple, S.ivf_topk(emb, centroids=cents).collect()))
    assert a == b


def test_pq_adc_is_exact_when_corpus_lies_on_the_codebook(spark):
    """Semantics pin for product quantization: with explicit codebooks and a
    corpus drawn FROM the codebook cross product, every vector quantizes to
    itself (encode d2 = 0), so the ADC distance IS the exact squared
    distance and PQ's ranking must equal the exact ranking."""
    import numpy as np

    from pdf_parser_spark.operators import similarity as S

    books = [
        [[0.0, 0.0], [1.0, 0.0], [0.0, 2.0]],   # subspace 0 (dims 0-1)
        [[0.0, 1.0], [3.0, 0.0], [0.5, 0.5]],   # subspace 1 (dims 2-3)
        # (no combination is the all-zero vector: cosine re-rank and
        # brute_force_topk both ANSI-fail on zero-norm rows by design)
    ]
    corpus = [(i * 3 + j, books[0][i] + books[1][j])
              for i in range(3) for j in range(3)]
    emb = spark.createDataFrame(
        [(vid, [float(x) for x in v]) for vid, v in corpus],
        "vec_id long, embedding array<float>",
    )
    # codes must be the construction indices (exact-centroid argmin)
    codes = {r["vec_id"]: list(r["codes"])
             for r in S.pq_encode(emb, books).collect()}
    assert codes == {i * 3 + j: [i, j] for i in range(3) for j in range(3)}

    out = S.pq_topk(emb, n_queries=1, k=8, codebooks=books,
                    rerank=None).collect()
    got = [(r["rank"], r["neighbor_id"], r["adc_dist"]) for r in out]
    q = np.asarray(corpus[0][1])
    exact = sorted(
        (round(float(((np.asarray(v) - q) ** 2).sum()), S.PQ_ROUND_DP), vid)
        for vid, v in corpus[1:]
    )
    assert got == [(r + 1, vid, d) for r, (d, vid) in enumerate(exact)]

    # ADC+R face: with a full-width shortlist the re-rank must reproduce
    # brute-force exactly (shortlist misses are the ONLY loss channel)
    rr = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in S.pq_topk(emb, n_queries=1, k=3, codebooks=books,
                             rerank=8).collect()}
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in S.brute_force_topk(emb, n_queries=1, k=3).collect()}
    assert rr == bf


def test_pq_fit_matches_numpy_twin_and_guards_divisibility(spark):
    """pq_fit = the shared Lloyd loop per subvector slice: codebooks over
    sf0.001 embeddings equal an independent numpy twin (same seeds, ties,
    rounding); non-divisible dim raises."""
    import numpy as np
    import pytest as _pytest

    from pdf_parser_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_fit(emb)

    rows = sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.select("vec_id", "embedding").collect()
    )
    X = np.asarray([v for _, v in rows], dtype=np.float64)
    sub = X.shape[1] // S.PQ_M
    for s in range(S.PQ_M):
        Xs = X[:, s * sub:(s + 1) * sub]
        twin = np.round(Xs[:S.PQ_KSUB].copy(), S.KMEANS_ROUND_DP)
        for _ in range(S.KMEANS_ITERS):
            assign = ((Xs[:, None, :] - twin[None, :, :]) ** 2).sum(-1).argmin(1)
            new = twin.copy()
            for c in range(S.PQ_KSUB):
                if (assign == c).any():
                    new[c] = Xs[assign == c].mean(0)
            new = np.round(new, S.KMEANS_ROUND_DP)
            if (new == twin).all():
                break
            twin = new
        assert books[s] == [[float(x) for x in row] for row in twin]

    bad = emb.select("vec_id", F.slice("embedding", 1, 63).alias("embedding"))
    with _pytest.raises(ValueError):
        S.pq_fit(bad)  # 63 % 4 != 0


def test_dim_truncation_audit(spark):
    """Dim-audit pins: the full-dim step is the identity (recall 10000 bp);
    embeddings whose signal lives ENTIRELY in the first 8 dims (suffix
    identical across vectors) keep recall 10000 at every ladder step —
    while the real synthetic corpus, not matryoshka-shaped, collapses
    under truncation (the measured finding, asserted < full)."""
    from pdf_parser_spark.operators import similarity as S

    import numpy as np
    # zero suffix: cosine over the full vector == cosine over the prefix
    # exactly (a shared NON-zero suffix would still perturb norms per
    # vector and shift rankings — cosine is not prefix-separable)
    rng = [(i, [float(((i * 7 + j * 13) % 29) - 14) / 10 for j in range(8)]
            + [0.0] * 56) for i in range(30)]
    emb = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    got = {r["dim"]: r["recall_bp"]
           for r in S.dim_truncation_audit(emb).collect()}
    assert got[64] == 10000
    assert got[8] == 10000 and got[16] == 10000 and got[32] == 10000

    real = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    real_got = {r["dim"]: r["recall_bp"]
                for r in S.dim_truncation_audit(real).collect()}
    assert real_got[64] == 10000
    assert real_got[8] < 10000  # truncation genuinely loses ranking here


def test_ivfpq_composition(spark):
    """IVFADC pins: probing ALL cells makes the IVF stage a no-op, so
    ivfpq(nprobe=K) must equal plain PQ exactly (same books); with a
    narrow probe the candidate set is cell-restricted — every reported
    neighbor lives in one of its query's probed cells."""
    from pdf_parser_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = S.kmeans_fit(emb)
    books = S.pq_fit(emb)
    full = sorted(map(tuple, S.ivfpq_topk(
        emb, nprobe=S.KMEANS_K, centroids=cents, codebooks=books).collect()))
    pq = sorted(map(tuple, S.pq_topk(emb, codebooks=books,
                                     rerank=None).collect()))
    assert full == pq and len(full) > 0

    narrow = S.ivfpq_topk(emb, nprobe=1, centroids=cents, codebooks=books)
    from pyspark.sql import functions as F  # noqa: N812
    cells = {r["vec_id"]: r["cell"] for r in emb.select(
        "vec_id",
        S._cluster_of(F.col("embedding").cast("array<double>"), cents)
        .alias("cell")).collect()}
    for r in narrow.collect():
        assert cells[r["neighbor_id"]] == cells[r["query_id"]]  # nprobe=1


def test_ivfpq_residual_mechanism_and_binding_constraint(spark):
    """Residual IVFADC (Jegou PAMI 2011 §IV-A) pins, three faces:

    (a) mechanism — on clustered vectors (8 well-separated centers + small
        noise, interleaved so the k lowest vec_ids seed one center each)
        the coarse quantizer explains >99% of the variance, and residual
        raw-ADC recall@3 strictly beats raw-vector ivfpq at the IDENTICAL
        M x ksub code budget: the published reason to encode residuals.
    (b) exactness — with every cell probed and a full-width shortlist the
        re-rank face must reproduce brute force exactly (shortlist misses
        are the only loss channel, same pin as plain PQ's ADC+R).
    (c) binding constraint — on the real synthetic embeddings the coarse
        quantizer explains <10% of the variance (numpy-measured: 4.8% at
        sf0.1), so residuals are nearly the raw vectors and residual
        encoding CANNOT lift recall there — the corpus, not the operator,
        binds (the r3 verdict's alternative done-criterion for this item)."""
    import numpy as np

    from pdf_parser_spark.operators import similarity as S

    # (a) clustered corpus: centers huge vs noise; i % 8 interleave makes
    # the kmeans seeds (8 lowest vec_ids) land one per center
    rng = np.random.RandomState(7)
    centers = rng.uniform(-10, 10, size=(8, 16))
    X = (np.array([centers[i % 8] for i in range(200)])
         + rng.uniform(-0.3, 0.3, size=(200, 16)))
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(200)],
        "vec_id long, embedding array<double>",
    )
    cents = S.kmeans_fit(emb)
    # coarse quantizer owns the structure: residual sum-sq < 1% of centered
    R = np.asarray(
        [r["embedding"] for r in
         S.residual_frame(emb, cents).orderBy("vec_id").collect()]
    )
    var_explained = 1.0 - (R ** 2).sum() / ((X - X.mean(0)) ** 2).sum()
    assert var_explained > 0.99

    brute = {(r["query_id"], r["neighbor_id"])
             for r in S.brute_force_topk(emb).collect()}
    raw = {(r["query_id"], r["neighbor_id"])
           for r in S.ivfpq_topk(
               emb, centroids=cents, codebooks=S.pq_fit(emb)).collect()}
    res_books = S.pq_fit_residual(emb, cents)
    res = {(r["query_id"], r["neighbor_id"])
           for r in S.ivfpq_residual_topk(
               emb, centroids=cents, codebooks=res_books,
               rerank=None).collect()}
    assert len(brute & res) > len(brute & raw)  # measured: 13 vs 8 of 30

    # (b) nprobe=all cells + full-width shortlist == brute force exactly
    full = {(r["query_id"], r["rank"]): r["neighbor_id"]
            for r in S.ivfpq_residual_topk(
                emb, nprobe=S.KMEANS_K, centroids=cents,
                codebooks=res_books, rerank=200).collect()}
    bf = {(r["query_id"], r["rank"]): r["neighbor_id"]
          for r in S.brute_force_topk(emb).collect()}
    assert full == bf

    # (c) the real synthetic embeddings are coarse-quantizer-resistant:
    # residuals keep >90% of the variance, so residual == raw in practice
    realX = np.asarray(sorted(
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet").collect()
    ), dtype=object)
    realX = np.asarray([v for _, v in realX], dtype=np.float64)
    real_emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    real_cents = S.kmeans_fit(real_emb)
    realR = np.asarray(
        [r["embedding"] for r in
         S.residual_frame(real_emb, real_cents).orderBy("vec_id").collect()]
    )
    real_explained = 1.0 - (realR ** 2).sum() / (
        (realX - realX.mean(0)) ** 2).sum()
    assert real_explained < 0.10


def test_pq_codebooks_persist_roundtrip(spark, tmp_path):
    """save/load round-trips the PQ model so pq_topk(loaded) is
    byte-identical to pq_topk(fitted) — the amortized-fit mode (the 4x
    Lloyd fit is the dominant PQ cost in bench.py)."""
    from pdf_parser_spark.operators import similarity as S

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = S.pq_fit(emb)
    path = str(tmp_path / "pq_books")
    S.save_pq_codebooks(spark, books, path)
    loaded = S.load_pq_codebooks(spark, path)
    assert loaded == books
    a = sorted(map(tuple, S.pq_topk(emb, codebooks=loaded).collect()))
    b = sorted(map(tuple, S.pq_topk(emb, codebooks=books).collect()))
    assert a == b and len(a) > 0


def test_warc_read_carves_blocks_and_keeps_blank_lines_in_body(spark, tmp_path):
    """split(limit=3) must keep CRLFCRLF sequences inside the payload;
    status/content-type/length parse per record; trailing record CRLFs are
    stripped; write->read round-trips document text byte-exactly."""
    from pdf_parser_spark.sources.warc import read_warc, write_warc

    body1 = "para one\r\n\r\npara two"   # blank line INSIDE payload
    raw = (
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://a.example.com/doc/1\r\n"
        "WARC-Date: 2026-08-16T00:00:00Z\r\n\r\n"
        f"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\nContent-Length: {len(body1)}\r\n\r\n"
        f"{body1}\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: response\r\n"
        "WARC-Target-URI: https://b.example.com/doc/2\r\n"
        "WARC-Date: 2026-08-16T00:00:00Z\r\n\r\n"
        "HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\nContent-Length: 0\r\n\r\n"
        "\r\n\r\n"
    )
    p = tmp_path / "hand.warc"
    p.write_bytes(raw.encode())
    out = {r["target_uri"]: r for r in read_warc(spark, str(tmp_path)).collect()}
    r1 = out["https://a.example.com/doc/1"]
    assert r1["body"] == body1 and r1["http_status"] == 200
    assert r1["content_length"] == len(body1)
    r2 = out["https://b.example.com/doc/2"]
    assert r2["http_status"] == 404 and r2["body"] == ""

    # write->read round-trip on a tiny documents frame
    docs = spark.createDataFrame(
        [(7, "alpha beta", "en", "srcA", 10), (8, "gamma", "de", "srcB", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "rt")
    write_warc(docs, d, n_files=2)
    back = {r["target_uri"]: r["body"] for r in read_warc(spark, d).collect()}
    assert back["https://srcA.example.com/doc/7"] == "alpha beta"
    assert back["https://srcB.example.com/doc/8"] == "gamma"


def test_wet_write_read_skips_warcinfo_and_keeps_blank_lines(spark, tmp_path):
    """WET 2-block framing: split(limit=2) keeps CRLFCRLF inside the text;
    the WARC-Type filter drops the per-file warcinfo header record real
    crawls open with; write->read round-trips byte-exactly and the
    WARC-Refers-To urn links each conversion record to its response twin."""
    from pdf_parser_spark.sources.warc import read_wet, write_wet

    body = "para one\r\n\r\npara two"     # blank line INSIDE extracted text
    raw = (
        "WARC/1.0\r\nWARC-Type: warcinfo\r\n"
        "Content-Type: application/warc-fields\r\n"
        "Content-Length: 20\r\n\r\n"
        "software: converter\r\n\r\n"
        "WARC/1.0\r\nWARC-Type: conversion\r\n"
        "WARC-Record-ID: <urn:wet:1>\r\n"
        "WARC-Refers-To: <urn:doc:1>\r\n"
        "WARC-Target-URI: https://a.example.com/doc/1\r\n"
        "WARC-Date: 2026-08-16T00:00:00Z\r\n"
        f"Content-Type: text/plain\r\nContent-Length: {len(body)}\r\n\r\n"
        f"{body}\r\n\r\n"
    )
    (tmp_path / "hand.wet").write_bytes(raw.encode())
    rows = read_wet(spark, str(tmp_path)).collect()
    assert len(rows) == 1                  # warcinfo record filtered out
    r = rows[0]
    assert r["body"] == body and r["refers_to"] == "urn:doc:1"
    assert r["content_length"] == len(body)

    docs = spark.createDataFrame(
        [(7, "alpha beta", "en", "srcA", 10), (8, "gämmä", "de", "srcB", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "wet_rt")
    write_wet(docs, d, n_files=2)
    back = {r["target_uri"]: r for r in read_wet(spark, d).collect()}
    assert back["https://srcA.example.com/doc/7"]["body"] == "alpha beta"
    g = back["https://srcB.example.com/doc/8"]
    assert g["body"] == "gämmä"
    # Content-Length is BYTES: two umlauts -> chars + 2
    assert g["content_length"] == len("gämmä".encode()) == len("gämmä") + 2
    assert g["refers_to"] == "urn:doc:8"


def test_warc_revisit_dedup_and_resolution(spark, tmp_path):
    """Revisit records (WARC 1.1 identical-payload-digest): the digest
    election keeps ONE full response per payload (min cap_id), later
    captures are written payload-free with Refers-To linkage, and the
    resolved read recovers every body byte-exactly through the link —
    including a cross-DOCUMENT duplicate, proving the election runs on
    digests, not on the recapture formula."""
    import glob

    from pdf_parser_spark.sources.warc import (
        REVISIT_OFFSET,
        read_warc_resolved,
        warc_captures,
        write_warc_dedup,
    )

    docs = spark.createDataFrame(
        [
            (2, "recrawled page", "en", "srcA", 14),   # 2 % 5 == 2 -> recaptured
            (3, "shared body", "en", "srcB", 11),
            (4, "shared body", "en", "srcC", 11),      # cross-doc duplicate of 3
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "dedup")
    write_warc_dedup(warc_captures(docs), d, n_files=2)

    raw = b"".join(
        open(p, "rb").read() for p in sorted(glob.glob(d + "/part-*"))
    ).decode()
    # exactly two revisit records: doc 2's cycle-2 recapture + doc 4's capture
    assert raw.count("WARC-Type: revisit\r\n") == 2
    assert raw.count("WARC-Type: response\r\n") == 2
    # revisit framing: HTTP headers present, payload absent -> the literal
    # body text appears exactly once in the whole archive per digest group
    assert raw.count("recrawled page") == 1 and raw.count("shared body") == 1
    assert "WARC-Profile: http://netpreserve.org/warc/1.1/revisit/" in raw

    rows = {r["cap_id"]: r for r in read_warc_resolved(spark, d).collect()}
    assert len(rows) == 4
    # election: min cap_id per digest is the response
    assert rows[2]["warc_type"] == "response" and rows[2]["refers_to"] is None
    recap = rows[2 + REVISIT_OFFSET]
    assert recap["warc_type"] == "revisit" and recap["refers_to"] == 2
    assert recap["body"] == "recrawled page"          # resolved through the link
    assert recap["warc_date"] != rows[2]["warc_date"]  # cycle-2 capture date kept
    # cross-document duplicate: doc 4's ONLY capture is a revisit of cap 3
    assert rows[3]["warc_type"] == "response"
    assert rows[4]["warc_type"] == "revisit" and rows[4]["refers_to"] == 3
    assert rows[4]["body"] == "shared body"
    assert rows[4]["target_uri"] == "https://srcC.example.com/doc/4"  # own URI


def test_wat_json_payload_round_trips_and_links(spark, tmp_path):
    """WAT metadata records: concat-built JSON crosses the format
    byte-exactly (digest/n_chars parse back), refers_to links to the
    response urn, and the JSON url agrees with the header URI."""
    import hashlib

    from pdf_parser_spark.sources.warc import read_wat, write_wat

    docs = spark.createDataFrame(
        [(7, "alpha beta", "en", "srcA", 10), (8, "gämmä", "de", "srcB", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    d = str(tmp_path / "wat_rt")
    write_wat(docs, d, n_files=2)
    back = {r["target_uri"]: r for r in read_wat(spark, d).collect()}
    r7 = back["https://srcA.example.com/doc/7"]
    assert r7["refers_to"] == "urn:doc:7" and r7["lang"] == "en"
    assert r7["n_chars"] == 10
    assert r7["digest"] == hashlib.md5(b"alpha beta").hexdigest()
    assert r7["url"] == r7["target_uri"]
    r8 = back["https://srcB.example.com/doc/8"]
    assert r8["n_chars"] == 5  # JSON carries CHAR count (digest pins bytes)
    assert r8["digest"] == hashlib.md5("gämmä".encode()).hexdigest()


def test_streaming_window_watermark_drops_late_rows(spark, tmp_path):
    """Append mode emits a window once when the watermark passes its end;
    a row arriving after that is dropped, never re-emitted."""
    import datetime as dt
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pdf_parser_spark.streaming.windowed import stream_window_counts

    def _batch(path, rows):
        utc = dt.timezone.utc
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([dt.datetime(2026, 8, 16, *r[1], tzinfo=utc) for r in rows],
                           pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array(["view"] * len(rows)),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    q = stream_window_counts(
        spark, str(in_dir), str(tmp_path / "ckpt"), "wm_" + tmp_path.name,
        window="1 hour", watermark="30 minutes", output_mode="append",
    )
    try:
        _batch(str(in_dir / "b0.parquet"), [(1, (10, 0)), (2, (12, 0))])
        q.processAllAvailable()
        # batch1: event_id 3 is LATE (10:15 < watermark 11:30) -> dropped;
        # event_id 4 advances the watermark so [12:00) and later flush
        _batch(str(in_dir / "b1.parquet"), [(3, (10, 15)), (4, (13, 0))])
        q.processAllAvailable()
        _batch(str(in_dir / "b2.parquet"), [(5, (20, 0))])
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["window"].start.hour: r["n_events"]
            for r in spark.table("wm_" + tmp_path.name).collect()}
    assert rows[10] == 1          # late event 3 was NOT added
    assert rows[12] == 1 and rows[13] == 1
    assert 20 not in rows         # tail window still open -> never emitted


def test_stream_stream_join_bounds_and_batch_invariance(spark, tmp_path):
    """Attribution-join pins: inclusive bounds at BOTH ends (click at
    view_ts and at view_ts + exactly ATTR_HOURS join; 1s either side does
    not), user-key isolation, and micro-batch invariance — the same events
    split across two batches join identically to one batch (the st_extract
    doctrine applied to stream-stream state)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.join import (
        ATTR_HOURS, stream_attribution_join,
    )

    utc = dt.timezone.utc
    t0 = dt.datetime(2026, 8, 10, 12, 0, 0, tzinfo=utc)

    def ev(eid, typ, uid, ts):
        return (eid, typ, uid, ts)

    rows = [
        ev(100, "view", 1, t0),
        ev(200, "click", 1, t0),                                  # == start
        ev(201, "click", 1, t0 + dt.timedelta(hours=ATTR_HOURS)),  # == end
        ev(202, "click", 1, t0 + dt.timedelta(hours=ATTR_HOURS, seconds=1)),
        ev(203, "click", 1, t0 - dt.timedelta(seconds=1)),
        ev(204, "click", 2, t0 + dt.timedelta(hours=1)),           # other user
        ev(300, "view", 2, t0 + dt.timedelta(hours=1)),
    ]

    def _write(path, rs):
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rs], pa.int64()),
            "ts": pa.array([r[3] for r in rs], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[2] for r in rs], pa.int64()),
            "event_type": pa.array([r[1] for r in rs]),
            "value": pa.array([1.0] * len(rs)),
            "props": pa.array(["{}"] * len(rs)),
        }), path)

    expected = {(1, 100, 200), (1, 100, 201), (2, 300, 204)}
    results = []
    for mode, batches in (("one", [rows]), ("split", [rows[:3], rows[3:]])):
        in_dir = tmp_path / f"in_{mode}"
        in_dir.mkdir()
        name = f"ssj_{mode}_{tmp_path.name}"
        q = stream_attribution_join(
            spark, str(in_dir), str(tmp_path / f"ckpt_{mode}"), name)
        try:
            for i, b in enumerate(batches):
                _write(str(in_dir / f"b{i}.parquet"), b)
                q.processAllAvailable()
        finally:
            q.stop()
        results.append({(r["user_id"], r["view_id"], r["click_id"])
                        for r in spark.table(name).collect()})
    assert results[0] == expected
    assert results[1] == expected  # batch boundaries are output-invisible


def test_warc_python_datasource(spark, tmp_path):
    """The registered format('warc') source: parses the same bytes as the
    JVM lineSep path byte-for-byte (incl. blank lines INSIDE a payload),
    plans one partition per part file, consumes an EqualTo pushdown inside
    the reader, and hands unsupported filters back to Spark (a > filter
    still evaluates correctly)."""
    from pdf_parser_spark.sources.warc import read_warc, write_warc
    from pdf_parser_spark.sources.warc_datasource import (
        WarcDataSource, WarcReader,
    )

    docs = spark.createDataFrame(
        [(1, "para one\r\n\r\npara two", "alpha"),   # blank line IN body
         (2, "short", "beta"),
         (3, "x" * 50, "gamma")],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "warc")
    write_warc(docs, out, n_files=2)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcDataSource)
    via_ds = spark.read.format("warc").load(out)
    a = sorted(map(tuple, via_ds.collect()))
    b = sorted(map(tuple, read_warc(spark, out).select(
        "target_uri", "warc_date", "http_status", "content_type",
        "content_length", "body").collect()))
    assert a == b and len(a) == 3
    assert "para one\r\n\r\npara two" in {r[5] for r in a}
    # partition planning: one per part file
    assert via_ds.rdd.getNumPartitions() == 2
    # pushdown: EqualTo on a header column is consumed by the reader
    r = WarcReader({"path": out})
    from pyspark.sql.datasource import EqualTo
    rest = list(r.pushFilters([EqualTo(("http_status",), 200)]))
    assert rest == [] and r.pushed == [("http_status", 200)]
    eq = via_ds.where(F.col("target_uri")
                      == "https://beta.example.com/doc/2").collect()
    assert len(eq) == 1 and eq[0]["body"] == "short"
    # unsupported (>) filter: returned to Spark, still correct
    gt = via_ds.where(F.col("content_length") > 10).count()
    assert gt == 2


def test_warc_datasource_content_length_framing(spark, tmp_path):
    """The r3 ADVICE framing bug, pinned: a payload that CONTAINS the
    version-line byte sequence must survive the Python DataSource read
    intact (records are framed by the WARC header's Content-Length, not
    by splitting on 'WARC/1.0\\r\\n'), and multibyte UTF-8 bodies must
    round-trip byte-exact (Content-Length is octet_length — a char-count
    writer plus a byte-framed reader would misalign every record after
    the first non-ASCII one)."""
    from pdf_parser_spark.sources.warc import write_warc
    from pdf_parser_spark.sources.warc_datasource import WarcDataSource

    evil = "before\r\nWARC/1.0\r\nWARC-Type: fake\r\n\r\nafter"
    uni = "café — naïve 中文 text"
    docs = spark.createDataFrame(
        [(1, evil, "alpha"), (2, uni, "beta"), (3, "plain tail", "gamma")],
        "doc_id long, text string, source string",
    )
    out = str(tmp_path / "warc")
    write_warc(docs, out, n_files=1)
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(WarcDataSource)
    rows = {r["target_uri"]: r for r in
            spark.read.format("warc").load(out).collect()}
    # all three records survive, bodies byte-identical
    assert len(rows) == 3
    assert rows["https://alpha.example.com/doc/1"]["body"] == evil
    assert rows["https://beta.example.com/doc/2"]["body"] == uni
    assert rows["https://gamma.example.com/doc/3"]["body"] == "plain tail"
    # HTTP Content-Length is bytes, not chars, for the multibyte body
    assert (rows["https://beta.example.com/doc/2"]["content_length"]
            == len(uni.encode("utf-8")))
    # a pushed target_uri filter still returns the right single record
    # (rejection seeks past blocks; framing keeps offsets aligned)
    one = (spark.read.format("warc").load(out)
           .where(F.col("target_uri") == "https://gamma.example.com/doc/3")
           .collect())
    assert len(one) == 1 and one[0]["body"] == "plain tail"


def test_orc_roundtrip_binary_and_pushdown(spark, tmp_path):
    """ORC source/sink: non-UTF-8 binary survives byte-exact, and a filter
    on the read side reaches the ORC scan as a pushed filter (the same
    scan-efficiency contract as parquet)."""
    from pdf_parser_spark.sources.orc import read_orc, write_orc

    payload = bytes(range(256))
    pages = spark.createDataFrame(
        [("u1", None, bytearray(payload), "t1", "en"),
         ("u2", None, bytearray(b"\x00\xff"), "t2", "es")],
        "url string, warc_ts timestamp, html binary, text string, lang string",
    )
    write_orc(pages, str(tmp_path / "orc"))
    back = read_orc(spark, str(tmp_path / "orc"))
    got = {r["url"]: bytes(r["html"]) for r in back.collect()}
    assert got == {"u1": payload, "u2": b"\x00\xff"}
    plan = back.where(F.col("lang") == "en")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [" in plan and "lang" in plan.split("PushedFilters")[1][:80]


def test_stream_upsert_table_foreachbatch(spark, tmp_path):
    """Streaming -> COW merge composition: batch 0 seeds the table, batch
    1 re-crawls one url (its row REPLACES, never duplicates) and inserts a
    new one; a within-batch duplicate of a url keeps the newest warc_ts;
    each micro-batch is one committed table version (the version history
    IS the micro-batch lineage)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.sources import tableformat as tf
    from pdf_parser_spark.streaming.pipeline import stream_upsert_table

    utc = dt.timezone.utc
    t = lambda h: dt.datetime(2026, 8, 12, h, 0, tzinfo=utc)  # noqa: E731

    def _write(path, rows):
        pq.write_table(pa.table({
            "url": pa.array([r[0] for r in rows]),
            "warc_ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "html": pa.array([None] * len(rows), pa.binary()),
            "text": pa.array([r[2] for r in rows]),
            "lang": pa.array(["en"] * len(rows)),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    tbl = str(tmp_path / "tbl")
    q = stream_upsert_table(spark, str(in_dir), tbl, str(tmp_path / "ck"))
    try:
        _write(str(in_dir / "b0.parquet"),
               [("u1", t(1), "old"), ("u2", t(1), "two")])
        q.processAllAvailable()
        assert tf.current_version(tbl) == 1
        # b1: u1 recrawled TWICE in one batch (later wins) + new u3
        _write(str(in_dir / "b1.parquet"),
               [("u1", t(2), "mid"), ("u1", t(3), "new"), ("u3", t(2), "three")])
        q.processAllAvailable()
    finally:
        q.stop()
    assert tf.current_version(tbl) == 2
    rows = {r["url"]: r["text"]
            for r in tf.read_table(spark, tbl).collect()}
    assert rows == {"u1": "new", "u2": "two", "u3": "three"}
    # time travel to the pre-recrawl world
    v1 = {r["url"]: r["text"]
          for r in tf.read_table(spark, tbl, version=1).collect()}
    assert v1 == {"u1": "old", "u2": "two"}


def test_stream_restart_from_checkpoint_exactly_once(spark, tmp_path):
    """The streaming half of the resumability story: a query is STOPPED
    after batch 0, a brand-new query object restarts from the same
    checkpoint + sink, consumes only what arrived since, and the parquet
    sink holds every url exactly once — no replays, no gaps (Structured
    Streaming's checkpoint + file-sink transaction log end-to-end)."""
    from pdf_parser_spark.sources.pages import synthetic_pages
    from pdf_parser_spark.streaming.pipeline import stream_extract

    in_dir, out_dir, ckpt = (str(tmp_path / d) for d in ("in", "out", "ck"))
    import glob
    import os
    import shutil
    import tempfile
    os.makedirs(in_dir)

    def _one_file(df, dest):  # the file source doesn't recurse into dirs
        tmp = tempfile.mkdtemp()
        df.coalesce(1).write.mode("overwrite").parquet(tmp)
        shutil.move(glob.glob(f"{tmp}/part-*.parquet")[0], dest)
        shutil.rmtree(tmp, ignore_errors=True)

    pages = synthetic_pages(spark, n_docs=24).cache()
    _one_file(pages.sort("url").limit(12), f"{in_dir}/b0.parquet")
    q1 = stream_extract(spark, in_dir, out_dir, ckpt, run_ts="2026-08-18")
    q1.processAllAvailable()
    q1.stop()
    n_after_b0 = spark.read.parquet(out_dir).count()
    assert n_after_b0 == 12
    # second wave lands while no query is running
    _one_file(pages.sort(F.col("url").desc()).limit(12), f"{in_dir}/b1.parquet")
    q2 = stream_extract(spark, in_dir, out_dir, ckpt, run_ts="2026-08-18")
    q2.processAllAvailable()
    q2.stop()
    out = spark.read.parquet(out_dir)
    # every input url exactly once: restart neither replayed b0 nor
    # skipped b1 (the two waves may overlap in urls — count per url must
    # equal its input multiplicity)
    from collections import Counter
    want = Counter(
        r["url"] for r in spark.read.parquet(f"{in_dir}/b0.parquet")
        .unionByName(spark.read.parquet(f"{in_dir}/b1.parquet")).collect())
    got = Counter(r["url"] for r in out.select("url").collect())
    assert got == want


def test_stream_static_enrich_unknown_and_batches(spark, tmp_path):
    """Stream-static pins: a user outside the dim rolls into 'unknown';
    counts accumulate across micro-batches (complete mode re-emits the
    full rollup); the dim join adds NO stream state (stateless join)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.join import (
        stream_static_enrich, user_tier_dim,
    )

    utc = dt.timezone.utc
    t0 = dt.datetime(2026, 8, 12, 9, 0, tzinfo=utc)

    def _write(path, rows):
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([t0] * len(rows), pa.timestamp("us", tz="UTC")),
            "user_id": pa.array([r[1] for r in rows], pa.int64()),
            "event_type": pa.array([r[2] for r in rows]),
            "value": pa.array([1.0] * len(rows)),
            "props": pa.array(["{}"] * len(rows)),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    name = "sse_" + tmp_path.name
    q = stream_static_enrich(
        spark, str(in_dir), str(tmp_path / "ckpt"), name, user_tier_dim(spark))
    try:
        _write(str(in_dir / "b0.parquet"),
               [(1, 0, "view"), (2, 1, "view"), (3, 999, "view")])
        q.processAllAvailable()
        _write(str(in_dir / "b1.parquet"), [(4, 0, "view")])
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["tier"], r["event_type"]): r["n_events"]
           for r in spark.table(name).collect()}
    assert got == {("gold", "view"): 2, ("silver", "view"): 1,
                   ("unknown", "view"): 1}


def test_jsonl_roundtrip_preserves_binary_bytes(spark, tmp_path):
    from pdf_parser_spark.sources.jsonl import read_jsonl, write_jsonl

    payload = bytes(range(256))  # non-UTF-8 binary must survive base64
    pages = spark.createDataFrame(
        [("u1", payload, "text one", "en"), ("u2", b"", "", "de")],
        "url string, html binary, text string, lang string",
    ).withColumn("warc_ts", F.lit(None).cast("timestamp"))
    write_jsonl(pages, str(tmp_path / "out"), n_files=2)
    back = {r["url"]: r for r in read_jsonl(spark, str(tmp_path / "out")).collect()}
    assert bytes(back["u1"]["html"]) == payload
    assert back["u1"]["text"] == "text one"
    assert bytes(back["u2"]["html"] or b"") == b"" and back["u2"]["lang"] == "de"


def test_robots_filter_disallow_and_schedule(spark):
    from pdf_parser_spark.operators import weburl

    # len('abc.com')=7 -> 7%3=1 disallows '/a/', delay (7%5)*100=200ms
    # len('abcd.com')=8 -> 8%3=2 no rule, delay 300ms
    rows = [
        (1, "https://abc.com/a/secret"),   # disallowed
        (2, "https://abc.com/docs/ok"),    # allowed, slot 0
        (3, "https://abc.com/open"),       # allowed, slot 1 -> 200ms
        (4, "https://abcd.com/a/fine"),    # no rule on this host
    ]
    canon = weburl.canonicalize(
        spark.createDataFrame(rows, "doc_id long, url string")
    )
    out = {r["doc_id"]: r for r in weburl.robots_filter(canon).collect()}
    assert 1 not in out
    assert out[2]["fetch_offset_ms"] == 0 and out[2]["crawl_delay_ms"] == 200
    assert out[3]["fetch_offset_ms"] == 200
    assert out[4]["fetch_offset_ms"] == 0 and out[4]["crawl_delay_ms"] == 300


def test_transform_kernels_unit():
    """Real resize/decimate kernels: handcrafted pixels prove the
    nearest-neighbor map and frame decimation, and outputs re-decode as
    valid containers (no Spark needed)."""
    import struct as st

    import numpy as np

    from pdf_parser_spark.operators.multimodal import (
        _decode_bmp, _decode_ppm, _decode_wav, decimate_wav,
        make_bmp, make_wav, resize_bmp, resize_ppm,
    )

    # 2x2 BMP with distinct pixels -> 1x1 picks source (0,0) of the stored
    # grid (floor map 0*2//1 = 0)
    w, h = 2, 2
    stride = 8  # 2*3 padded to 8
    pixels = bytes(range(stride * h))
    header = b"BM" + st.pack("<IHHI", 54 + stride * h, 0, 0, 54)
    info = st.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h,
                   2835, 2835, 0, 0)
    out = resize_bmp(header + info + pixels, 1, 1)
    meta = _decode_bmp(out)
    assert (meta["width"], meta["height"]) == (1, 1)
    assert out[54:57] == pixels[0:3]  # first stored pixel, BGR intact

    # synthetic BMP halves and re-decodes; raster bytes follow the
    # nearest-neighbor formula
    src = make_bmp(10, 6)
    rz = resize_bmp(src, 5, 3)
    m2 = _decode_bmp(rz)
    assert (m2["width"], m2["height"]) == (5, 3)
    s_in, s_out = ((10 * 3 + 3) // 4) * 4, ((5 * 3 + 3) // 4) * 4
    got = np.frombuffer(rz, np.uint8, count=s_out * 3, offset=54)
    for r2 in range(3):
        for x2 in range(5):
            for ch in range(3):
                src_i = s_in * (r2 * 6 // 3) + 3 * (x2 * 10 // 5) + ch
                assert got[s_out * r2 + 3 * x2 + ch] == (src_i * 7 + 10) % 256

    # PPM resize keeps magic/maxval and the formula raster
    rp = resize_ppm(b"P6\n4 4\n255\n" + bytes(range(48)), 2, 2)
    pm = _decode_ppm(rp)
    assert (pm["width"], pm["height"]) == (2, 2)
    assert rp.startswith(b"P6\n2 2\n255\n")
    raster = rp[len(b"P6\n2 2\n255\n"):]
    # row 0 -> src row 0 cols 0,2 ; row 1 -> src row 2
    assert raster == bytes([0, 1, 2, 6, 7, 8, 24, 25, 26, 30, 31, 32])

    # WAV decimation: every 2nd frame kept, rate halved, duration preserved
    src_wav = make_wav(2, 8000, 101)
    dec = decimate_wav(src_wav, 2)
    dm = _decode_wav(dec)
    assert dm["sample_rate"] == 4000 and dm["n_channels"] == 2
    n_out = (101 + 1) // 2
    assert len(dec) == 44 + n_out * 4
    # frame g of the output is source frame 2g
    for g in (0, 1, 7, n_out - 1):
        assert dec[44 + g * 4: 44 + g * 4 + 4] == \
            src_wav[44 + 2 * g * 4: 44 + 2 * g * 4 + 4]


def test_audio_energy_windows_and_silence(spark):
    """Windowed PCM energy pins: window split at AE_WIN with a partial
    tail, exact integer energies, silence STRICTLY below thresh*n (the
    boundary window is NOT silent), odd trailing data byte dropped by the
    int16 floor, non-WAV payloads skipped by magic sniff."""
    import struct

    import numpy as np

    from pdf_parser_spark.operators import multimodal as M

    def wav_of(samples, extra=b""):
        data = np.asarray(samples, "<i2").tobytes() + extra
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    w = M.AE_WIN
    # window 0: meansq exactly AT the threshold (energy == thresh*n) ->
    # NOT silent; window 1: one notch below -> silent; window 2: partial
    # tail of 2 loud samples + an odd dangling byte that must be dropped
    a = int(M.AE_SIL_MEANSQ ** 0.5)          # a*a == AE_SIL_MEANSQ (10^4)
    samples = [a] * w + [a - 1] * w + [0, 32767]
    payload = wav_of(samples, extra=b"\x7f")
    df = spark.createDataFrame(
        [(0, bytearray(payload)), (1, bytearray(b"P6 not a wav"))],
        "doc_id long, payload binary",
    )
    rows = [(r["win_idx"], r["n_samps"], r["energy"], r["is_silence"])
            for r in M.audio_energy(df).collect()]
    assert rows == [
        (0, w, w * M.AE_SIL_MEANSQ, False),          # == thresh: not silent
        (1, w, w * (a - 1) * (a - 1), True),
        (2, 2, 32767 * 32767, False),
    ]
    assert a * a == M.AE_SIL_MEANSQ  # the boundary case really is exact


def test_audio_energy_oversized_data_chunk_clamps_to_riff_envelope(spark):
    """The r3 ADVICE clamp bug, pinned: a data chunk declaring an
    OVERSIZED length must not square-sum bytes beyond the RIFF envelope
    (trailing junk or a concatenated second payload) as PCM samples — the
    extent clamps to min(declared, envelope end), not to end-of-file.
    Same rule in decimate_wav and media_features' duration."""
    import struct

    import numpy as np

    from pdf_parser_spark.operators import multimodal as M

    def wav_of(samples, declared_extra=0, trailing=b""):
        data = np.asarray(samples, "<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data) + declared_extra)
                + data)
        # RIFF size covers the true body; `trailing` lies OUTSIDE it
        return b"RIFF" + struct.pack("<I", len(body)) + body + trailing

    samples = [1000] * 10
    clean = wav_of(samples)
    # declared data length overshoots by 64 bytes; 64 bytes of loud junk
    # follow the envelope — pre-fix these were read as 32 PCM samples
    corrupt = wav_of(samples, declared_extra=64, trailing=b"\x7f\x7f" * 32)
    df = spark.createDataFrame(
        [(0, bytearray(clean)), (1, bytearray(corrupt))],
        "doc_id long, payload binary",
    )
    rows = M.audio_energy(df).collect()
    a = [(r["win_idx"], r["n_samps"], r["energy"])
         for r in rows if r["doc_id"] == 0]
    b = [(r["win_idx"], r["n_samps"], r["energy"])
         for r in rows if r["doc_id"] == 1]
    assert a == b == [(0, 10, 10 * 1000 * 1000)]
    # decimate_wav: same clamp — corrupt input decimates to the same bytes
    assert M.decimate_wav(corrupt) == M.decimate_wav(clean)
    # media_features: the same clamp — duration comes from the clamped data
    # extent (10 samples @ 8 kHz = 1 ms), not the declared 84 bytes (5 ms)
    durations = {r["doc_id"]: r["duration_ms"]
                 for r in M.media_features(df).collect()}
    assert durations == {0: 1, 1: 1}


def test_shot_boundaries_sad_and_cuts(spark):
    """Shot-detection pins: identical consecutive frames -> sad 0, no cut;
    an inverted frame -> max SAD and a cut; a dimension flip -> the format
    cut (sad -1, is_cut); a single-frame stream emits no pairs."""
    import numpy as np

    from pdf_parser_spark.operators import multimodal as M

    def p6(raster, w, h):
        return (f"P6\n{w} {h}\n255\n".encode()
                + np.asarray(raster, np.uint8).tobytes())

    w, h = 4, 2
    npx = 3 * w * h
    flat = [10] * npx
    inv = [245] * npx                       # |245-10| = 235 > 64 everywhere
    stream = (p6(flat, w, h) + p6(flat, w, h) + p6(inv, w, h)
              + p6([0] * 27, 3, 3))         # dims flip 4x2 -> 3x3
    df = spark.createDataFrame(
        [(0, bytearray(stream)), (1, bytearray(p6(flat, w, h)))],
        "doc_id long, payload binary",
    )
    rows = [(r["doc_id"], r["frame_index"], r["n_px"], r["sad"], r["is_cut"])
            for r in M.shot_boundaries(df).collect()]
    assert rows == [
        (0, 1, npx, 0, False),
        (0, 2, npx, 235 * npx, True),
        (0, 3, 27, -1, True),
    ]  # doc 1 (single frame): no pairs


def test_audio_segments_islands(spark):
    """VAD-segment pins: silence/speech/silence stretches merge into three
    segments with exact window ranges and energy sums; a flag flip at a
    single window opens its own segment; all-speech audio is one segment."""
    import struct

    import numpy as np

    from pdf_parser_spark.operators import multimodal as M

    def wav_of(samples):
        data = np.asarray(samples, "<i2").tobytes()
        fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVE" + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        return b"RIFF" + struct.pack("<I", len(body)) + body

    w = M.AE_WIN
    loud, quiet = 1000, 0
    samples = ([quiet] * (2 * w)      # windows 0-1: silence
               + [loud] * (3 * w)     # windows 2-4: speech
               + [quiet] * w)         # window 5: silence
    df = spark.createDataFrame(
        [(0, bytearray(wav_of(samples))),
         (1, bytearray(wav_of([loud] * (2 * w))))],
        "doc_id long, payload binary",
    )
    rows = [(r["doc_id"], r["seg_idx"], r["is_silence"],
             r["win_start"], r["win_end"], r["n_windows"], r["energy_sum"])
            for r in M.audio_segments(df).collect()]
    assert rows == [
        (0, 0, True, 0, 1, 2, 0),
        (0, 1, False, 2, 4, 3, 3 * w * loud * loud),
        (0, 2, True, 5, 5, 1, 0),
        (1, 0, False, 0, 1, 2, 2 * w * loud * loud),
    ]


def test_transform_media_spark_stage(spark):
    from pdf_parser_spark.operators.multimodal import (
        synthetic_media, transform_media,
    )

    docs = spark.range(0, 9).withColumnRenamed("id", "doc_id")
    rows = {r["doc_id"]: r for r in
            transform_media(synthetic_media(docs)).collect()}
    assert len(rows) == 9
    for d, r in rows.items():
        if d % 3 == 0:  # BMP
            w, h = 8 + d % 32, 8 + (d // 3) % 24
            assert (r["media_type"], r["out_w"], r["out_h"]) == \
                ("image/bmp", w // 2, h // 2)
            assert r["out_len"] == 54 + (((w // 2) * 3 + 3) // 4) * 4 * (h // 2)
        elif d % 3 == 1:  # WAV
            assert r["media_type"] == "audio/wav"
            assert r["out_rate"] == 8000 * (1 + d % 3) // 2
            assert r["n_units"] == (200 + d % 100 + 1) // 2
        else:  # PPM
            w, h = 4 + d % 16, 4 + (d // 5) % 16
            assert (r["media_type"], r["out_w"], r["out_h"]) == \
                ("image/ppm", w // 2, h // 2)
        assert r["data_sum"] >= 0 and r["payload"] is not None


def test_transform_wav_units_count_frames_at_any_pcm_width():
    """n_units is decimate_wav's frame count: a 24-bit stereo WAV of 100
    frames decimates to 50 frames of 6 bytes (16-bit framing said 75)."""
    from pdf_parser_spark.operators.multimodal import _riff_wav, _transform

    data = bytes(range(256)) * 2 + bytes(88)  # 600 bytes = 100 x (2 ch x 3 B)
    r = _transform(_riff_wav(2, 8000, 24, data))
    assert (r["media_type"], r["out_rate"], r["n_units"]) == ("audio/wav", 4000, 50)
    assert r["out_len"] == 44 + 50 * 6


def test_ppm_stream_frame_sampling(spark):
    from pdf_parser_spark.operators.multimodal import (
        _ppm_header, make_ppm_seeded, sample_ppm_frames, split_ppm_stream,
        synthetic_video, synthetic_video_payload,
    )

    # stream parsing: 3 frames round-trip exactly, trailing garbage ignored
    frames = [make_ppm_seeded(3, 2, s) for s in (10, 11, 12)]
    stream = b"".join(frames) + b"junk"
    assert split_ppm_stream(stream) == frames

    # Spark stage: every 2nd frame, standalone valid P6, formula data_sum
    docs = spark.range(0, 8).withColumnRenamed("id", "doc_id")
    rows = sample_ppm_frames(synthetic_video(docs)).collect()
    by_doc: dict = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for d, rs in by_doc.items():
        nf = 3 + d % 4
        w, h = 4 + d % 8, 4 + (d // 7) % 8
        assert [r["frame_index"] for r in rs] == list(range(0, nf, 2))
        for r in rs:
            assert (r["n_frames"], r["width"], r["height"]) == (nf, w, h)
            hd = _ppm_header(bytes(r["payload"]))
            assert hd[:2] == (w, h)  # sampled frame is a valid P6
            expect = sum((i * 11 + d + r["frame_index"]) % 256
                         for i in range(3 * w * h))
            assert r["data_sum"] == expect
    # the whole stream for doc 5 re-splits to its n_frames frames
    assert len(split_ppm_stream(synthetic_video_payload(5))) == 3 + 5 % 4
    # the fan-out cap: every frame requested, max_frames=2 kept per doc
    capped = sample_ppm_frames(synthetic_video(docs), every=1,
                               max_frames=2).collect()
    per_doc: dict = {}
    for r in capped:
        per_doc[r["doc_id"]] = per_doc.get(r["doc_id"], 0) + 1
    assert per_doc == {d: 2 for d in range(8)}


def test_streaming_change_feed_state_across_batches(spark, tmp_path):
    """Cross-batch verdicts: change detected, gap + unchanged reappearance
    stays 'unchanged' (state persists through absence), late first-seen is
    'added' — each cycle its own micro-batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.changefeed import stream_change_feed

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    name = "feedtest"
    cycles = [
        [(1, 0, "A"), (2, 0, "X")],          # both first seen
        [(1, 1, "B")],                        # 1 changed; 2 absent
        [(2, 2, "X"), (3, 2, "N")],          # 2 reappears unchanged; 3 added
    ]
    q = None
    for t, rows in enumerate(cycles):
        tbl = pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "snap_ts": pa.array([r[1] for r in rows], pa.int64()),
            "fp": pa.array([r[2] for r in rows], pa.string()),
        })
        pq.write_table(tbl, str(in_dir / f"c{t}.parquet"))
        if q is None:
            q = stream_change_feed(spark, str(in_dir), str(tmp_path / "ck"), name)
        q.processAllAvailable()
    q.stop()
    out = {(r["doc_id"], r["snap_ts"]): r["verdict"]
           for r in spark.table(name).collect()}
    assert out == {
        (1, 0): "added", (2, 0): "added",
        (1, 1): "changed",
        (2, 2): "unchanged", (3, 2): "added",
    }


def test_tableformat_snapshots_time_travel_rollback(spark, tmp_path):
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    a = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    b = spark.createDataFrame([(3, "c")], "id long, v string")
    c = spark.createDataFrame([(4, "d")], "id long, v string")
    assert tf.append_snapshot(a, path) == 1
    assert tf.append_snapshot(b, path) == 2
    assert tf.append_snapshot(c, path) == 3
    # latest sees everything; time travel sees each snapshot's world
    assert tf.read_table(spark, path).count() == 4
    assert sorted(r["id"] for r in tf.read_table(spark, path, version=2).collect()) \
        == [1, 2, 3]
    assert tf.read_table(spark, path, version=1).count() == 2
    # manifest-only reads: an orphaned data file (failed commit) is invisible
    import shutil
    orphan = str(tmp_path / "tbl" / "data" / "orphan")
    shutil.copytree(str(tmp_path / "tbl" / "data" / tf.snapshots(path)[0]["snapshot_id"]), orphan)
    assert tf.read_table(spark, path).count() == 4
    # commit race: a pre-existing v4 forces the committer to retry as v5
    import json, os
    racer_files = tf.snapshots(path)[-1]["all_files"]
    v4 = os.path.join(path, "metadata", "v4.json")
    with open(v4, "w") as f:
        json.dump({"version": 4, "snapshot_id": "racer", "parent_version": 3,
                   "added_files": [], "added_rows": 0,
                   "all_files": racer_files}, f)
    assert tf.append_snapshot(b, path) == 5
    assert tf.read_table(spark, path).count() == 5  # 4 + replayed b
    # rollback drops newer versions; current state = requested snapshot
    tf.rollback(path, 2)
    assert tf.current_version(path) == 2
    assert tf.read_table(spark, path).count() == 3


def test_compact_table_rewrites_without_changing_content(spark, tmp_path):
    """Compaction pins: many-file table collapses to few files in a NEW
    version, logical rows byte-identical, pre-compaction versions still
    time-travel to their own file lists, zone-map pruning works on the
    compacted stats, and a racing commit makes compaction REFUSE (never
    silently drop the racer's rows)."""
    import json
    import os

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for k in range(4):  # 4 appends x 4 partitions = 16 small files
        df = spark.createDataFrame(
            [(k * 10 + i, f"v{k}_{i}") for i in range(8)], "id long, v string"
        ).repartition(4)
        tf.append_snapshot(df, path)
    before = tf._read_version(path, 4)
    assert len(before["all_files"]) == 16
    rows_before = sorted(map(tuple, tf.read_table(spark, path).collect()))

    v = tf.compact_table(spark, path)
    assert v == 5
    after = tf._read_version(path, 5)
    assert len(after["all_files"]) < len(before["all_files"])
    assert sorted(map(tuple, tf.read_table(spark, path).collect())) == rows_before
    # old version still reads ITS files (time travel preserved)
    assert len(tf._read_version(path, 4)["all_files"]) == 16
    assert tf.read_table(spark, path, version=4).count() == 32
    # zone maps on the compacted files still prune: id range is [0, 38]
    pdf, n_read, n_total = tf.scan_table(spark, path, [("id", ">", 1000)])
    assert pdf.count() == 0 and n_read == 0 and n_total == len(after["all_files"])
    # conflicting commit -> compaction refuses instead of dropping rows:
    # a racer lands v6 between compaction's base read and its link (here:
    # the base read is pinned stale at 5 while v6 already exists)
    import unittest.mock as mock

    v6 = os.path.join(path, "metadata", "v6.json")
    with open(v6, "w") as f:
        json.dump({"version": 6, "snapshot_id": "racer", "parent_version": 5,
                   "added_files": [], "added_rows": 0,
                   "all_files": after["all_files"]}, f)
    import pytest as _pytest
    with mock.patch.object(tf, "current_version", return_value=5):
        with _pytest.raises(RuntimeError, match="concurrent commit"):
            tf.compact_table(spark, path)
    # the refused compaction left no half-committed state: v6 is still the
    # racer's and reads exactly its manifest
    assert tf._read_version(path, 6)["snapshot_id"] == "racer"


def test_zorder_rewrite_prunes_on_both_columns(spark, tmp_path):
    """Z-order pins: after the Morton rewrite, zone-map scans prune files
    for point predicates on BOTH interleaved columns (the single-column
    sort baseline prunes only its own column); content is unchanged; the
    rewrite is a new time-travelable version."""
    from pdf_parser_spark.sources import tableformat as tf

    # a 64x64 grid: a = id % 64, b = id div 64 — every (a, b) cell once
    df = spark.createDataFrame(
        [(i, i % 64, i // 64) for i in range(4096)],
        "id long, a long, b long",
    ).repartition(8)
    path = str(tmp_path / "tbl")
    tf.append_snapshot(df, path)
    rows_before = sorted(r["id"] for r in tf.read_table(spark, path).collect())

    # baseline: sorted by a ONLY -> b cannot prune
    tf.compact_table(spark, path, target_bytes=4 * 1024)  # many files
    v = tf.zorder_table(spark, path, "a", "b", n_files=16)
    assert tf.current_version(path) == v
    assert sorted(r["id"] for r in tf.read_table(spark, path).collect()) \
        == rows_before

    _, na_read, n_total = tf.scan_table(spark, path, [("a", "=", 3)])
    _, nb_read, _ = tf.scan_table(spark, path, [("b", "=", 3)])
    assert n_total == 16
    assert na_read < n_total and nb_read < n_total  # BOTH columns prune
    # and the pruned scans still return the right rows
    dfa, _, _ = tf.scan_table(spark, path, [("a", "=", 3)])
    assert dfa.count() == 64


def test_zorder_signed_keys_prune_on_both_columns(spark, tmp_path):
    """r3 verdict item 4, pinned: SIGNED keys get a real Morton curve via
    rank-bucket normalization — the raw two's-complement low-bit
    interleave ordered -1 above 1 and silently destroyed locality.  Same
    64x64 grid as the unsigned test but centered on zero: point scans on
    negative values of BOTH columns must prune files and return exactly
    their slice."""
    from pdf_parser_spark.sources import tableformat as tf

    df = spark.createDataFrame(
        [(i, i % 64 - 32, i // 64 - 32) for i in range(4096)],
        "id long, a long, b long",
    ).repartition(8)
    path = str(tmp_path / "tbl")
    tf.append_snapshot(df, path)
    rows_before = sorted(r["id"] for r in tf.read_table(spark, path).collect())

    tf.compact_table(spark, path, target_bytes=4 * 1024)
    tf.zorder_table(spark, path, "a", "b", n_files=16)
    assert sorted(r["id"] for r in tf.read_table(spark, path).collect()) \
        == rows_before

    _, na_read, n_total = tf.scan_table(spark, path, [("a", "=", -3)])
    _, nb_read, _ = tf.scan_table(spark, path, [("b", "=", -3)])
    assert n_total == 16
    assert na_read < n_total and nb_read < n_total  # BOTH columns prune
    dfa, _, _ = tf.scan_table(spark, path, [("a", "=", -3)])
    assert dfa.count() == 64 and dfa.where("a <> -3").count() == 0


def test_table_changes_cdc_between_versions(spark, tmp_path):
    """CDC pins: an append surfaces as pure inserts; a COW upsert surfaces
    as delete+insert of the touched key only (untouched rows absent from
    the diff); multiset semantics count duplicate rows exactly."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    tf.append_snapshot(spark.createDataFrame(
        [(1, "a"), (2, "b"), (2, "b")], "id long, v string"), path)
    tf.append_snapshot(spark.createDataFrame(
        [(3, "c")], "id long, v string"), path)
    d12 = {(r["id"], r["v"], r["_change"])
           for r in tf.table_changes(spark, path, 1, 2).collect()}
    assert d12 == {(3, "c", "insert")}
    tf.merge_snapshot(
        spark, spark.createDataFrame([(2, "B2")], "id long, v string"),
        path, "id")
    d23 = sorted((r["id"], r["v"], r["_change"])
                 for r in tf.table_changes(spark, path, 2, 3).collect())
    # BOTH duplicate (2,'b') rows deleted (multiset), one (2,'B2') inserted
    assert d23 == [(2, "B2", "insert"), (2, "b", "delete"), (2, "b", "delete")]
    assert tf.table_changes(spark, path, 3, 3).count() == 0


def test_merge_snapshot_cow_upsert_scoped_by_zone_maps(spark, tmp_path):
    """COW merge pins: an upsert of keys living in ONE file rewrites only
    that file (zone-map scoping; the other appends ride untouched into the
    new manifest), content equals a full-table upsert, new keys insert,
    pre-merge versions still time-travel, and a stale-base race refuses."""
    import unittest.mock as mock

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    # 3 appends with DISJOINT id ranges -> zone maps can discriminate
    for k, lo in enumerate((0, 100, 200)):
        df = spark.createDataFrame(
            [(lo + i, f"v{k}_{i}") for i in range(5)], "id long, v string"
        ).coalesce(1)
        tf.append_snapshot(df, path)
    before_files = tf._read_version(path, 3)["all_files"]
    assert len(before_files) == 3

    updates = spark.createDataFrame(
        [(101, "UPDATED"), (999, "NEW")], "id long, v string")
    info = tf.merge_snapshot(spark, updates, path, "id")
    assert info["version"] == 4
    assert info["n_files_rewritten"] == 1      # only the 100-range file
    assert info["n_files_untouched"] == 2
    rows = {r["id"]: r["v"] for r in tf.read_table(spark, path).collect()}
    assert rows[101] == "UPDATED" and rows[999] == "NEW"
    assert rows[100] == "v1_0" and rows[0] == "v0_0" and len(rows) == 16
    # untouched files persist verbatim in the new manifest
    after = tf._read_version(path, 4)["all_files"]
    assert sum(1 for f in before_files if f in after) == 2
    # time travel: v3 still shows the pre-merge world
    old = {r["id"]: r["v"] for r in tf.read_table(spark, path, version=3).collect()}
    assert old[101] == "v1_1" and 999 not in old
    # stale-base race refuses (compaction doctrine)
    import pytest as _pytest
    with mock.patch.object(tf, "current_version", return_value=3):
        with _pytest.raises(RuntimeError, match="concurrent commit"):
            tf.merge_snapshot(spark, updates, path, "id")


def test_merge_snapshot_null_keys_insert_and_never_prune(spark, tmp_path):
    """NULL merge keys follow SQL MERGE semantics: a null-key row in the
    incoming batch inserts (it can never match an existing key), does not
    crash the range pruning (the pre-fix driver loop raised TypeError
    comparing None vs str), and does not widen the rewrite scope — the
    zone-map file selection still rewrites only the file whose key range
    the NON-null keys hit.  This is the stream_upsert_table crash path
    from the r3 ADVICE (a page batch with a null url)."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for k, lo in enumerate(("a", "m")):
        df = spark.createDataFrame(
            [(lo + str(i), f"v{k}_{i}") for i in range(4)],
            "url string, v string",
        ).coalesce(1)
        tf.append_snapshot(df, path)

    updates = spark.createDataFrame(
        [("m2", "UPDATED"), (None, "NULLKEY")], "url string, v string")
    info = tf.merge_snapshot(spark, updates, path, "url")
    assert info["n_files_rewritten"] == 1      # only the m-range file
    assert info["n_files_untouched"] == 1
    rows = {(r["url"], r["v"]) for r in tf.read_table(spark, path).collect()}
    assert (None, "NULLKEY") in rows           # null row inserted
    assert ("m2", "UPDATED") in rows and ("a0", "v0_0") in rows
    assert len(rows) == 9                      # 8 base + 1 null insert
    # a second null-key batch inserts AGAIN (null never matches null)
    tf.merge_snapshot(
        spark,
        spark.createDataFrame([(None, "NULLKEY2")], "url string, v string"),
        path, "url")
    vals = [r["v"] for r in tf.read_table(spark, path).collect()
            if r["url"] is None]
    assert sorted(vals) == ["NULLKEY", "NULLKEY2"]


def test_crash_after_data_write_resumes_exactly_once(spark, tmp_path, monkeypatch):
    """Commit rule: a run killed after its data write but before its lineage
    write is not done.  Resume extracts its urls again under a new run id;
    the committed view, the lineage sums and the consistency sink each hold
    every url once, and the killed run's id cannot be reused."""
    from pdf_parser_spark.operators import checkpoint
    from pdf_parser_spark.operators.pipeline import run_batch

    out = str(tmp_path / "out")
    pages = synthetic_pages(spark, 12)
    half = pages.where("xxhash64(url) % 2 = 0")
    n_half = half.count()

    def killed(*_a, **_k):
        raise RuntimeError("killed before the lineage write")

    with monkeypatch.context() as m:
        m.setattr(checkpoint, "lineage_rows", killed)
        with pytest.raises(RuntimeError, match="killed"):
            run_batch(half, out, run_ts=RUN_TS, run_id="crashed")
    # the killed attempt's data files are committed to the directory
    on_disk = spark.read.parquet(f"{out}/extracted")
    assert on_disk.where("run_id = 'crashed'").count() == n_half

    final = run_batch(pages, out, run_ts=RUN_TS, run_id="r2", resume=True)
    lineage = spark.read.parquet(f"{out}/lineage")
    assert lineage.agg(F.sum("n_rows")).first()[0] == 12
    assert {r["run_id"] for r in lineage.select("run_id").collect()} == {"r2"}

    committed = [r["url"] for r in checkpoint.committed_rows(spark, out).collect()]
    all_urls = [r["url"] for r in pages.select("url").collect()]
    assert sorted(committed) == sorted(all_urls)
    consistency = [r["url"] for r in final.select("url").collect()]
    assert sorted(consistency) == sorted(all_urls)
    assert pending_urls(spark, pages, out).count() == 0

    with pytest.raises(ValueError, match="crashed"):
        run_batch(pages, out, run_ts=RUN_TS, run_id="crashed", resume=True)


def test_pending_urls_raises_on_unreadable_sink(spark, tmp_path):
    """Only an absent sink means nothing is done: a sink that cannot be read
    raises instead of silently sending every page back through extraction."""
    sink = tmp_path / "out" / "extracted" / "status=ok"
    sink.mkdir(parents=True)
    (sink / "part-00000.parquet").write_text("not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        pending_urls(spark, synthetic_pages(spark, 4), str(tmp_path / "out"))
    # a missing sink, or one holding only a killed write's _temporary, is empty
    (tmp_path / "fresh" / "extracted" / "_temporary").mkdir(parents=True)
    for out in ("absent", "fresh"):
        assert pending_urls(spark, synthetic_pages(spark, 4), str(tmp_path / out)).count() == 4


def test_scan_table_zone_map_pruning(spark, tmp_path):
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    lowdf = spark.createDataFrame([(i, f"v{i}") for i in range(10)], "id long, v string")
    highdf = spark.createDataFrame([(i, f"v{i}") for i in range(100, 110)], "id long, v string")
    tf.append_snapshot(lowdf.coalesce(1), path)
    tf.append_snapshot(highdf.coalesce(1), path)
    # range predicate eliminates the non-overlapping file from metadata
    df, n_read, n_total = tf.scan_table(spark, path, [("id", ">=", 100)])
    assert (n_read, n_total) == (1, 2)
    assert sorted(r["id"] for r in df.collect()) == list(range(100, 110))
    # equality inside a range: only the containing file read
    df, n_read, _ = tf.scan_table(spark, path, [("id", "=", 5)])
    assert n_read == 1 and df.count() == 1
    # string footstats prune too: 'v5' is outside [v100, v109]
    df, n_read, _ = tf.scan_table(spark, path, [("v", "=", "v5")])
    assert n_read == 1 and df.count() == 1
    # a column with no stats never prunes (safe direction)
    assert tf._may_match({}, "absent", "=", 7) is True
    df, n_read, _ = tf.scan_table(spark, path, [("id", "<", 0)])
    assert n_read == 0 and df.count() == 0  # zero files, schema intact
    assert df.columns == ["id", "v"]
    # ADVICE r2: predicate values with SQL-hostile characters filter via
    # Column ops (repr-interpolation would mis-parse the quote/backslash)
    hostile = spark.createDataFrame(
        [(200, "it's"), (201, 'a"b'), (202, "c\\d")], "id long, v string")
    tf.append_snapshot(hostile.coalesce(1), path)
    for val in ("it's", 'a"b', "c\\d"):
        df, _, _ = tf.scan_table(spark, path, [("v", "=", val)])
        assert [r["v"] for r in df.collect()] == [val]
    # type-mismatched predicate vs stored stat: never raises, never prunes
    assert tf._may_match({"v": {"min": "a", "max": "z"}}, "v", "=", 7) is True
    assert tf._may_match({"id": {"min": 0, "max": 9}}, "id", ">", "5") is True


def test_expire_snapshots_gc(spark, tmp_path):
    """Expire keeps reachable data intact and removes ONLY data files no
    remaining version references (incl. rollback-orphaned snapshots)."""
    import os

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for i in range(3):
        df = spark.createDataFrame([(i, "x")], "id long, v string")
        tf.append_snapshot(df.coalesce(1), path)
    tf.rollback(path, 2)  # v3's snapshot becomes unreachable
    # expiring below v2 drops v1's metadata; v1's DATA remains reachable
    # through v2's cumulative manifest, so only v3's files are orphans
    # min_age_s=0: no concurrent writer in the test (the default 24h guard
    # protects in-flight appends whose version file hasn't linked yet)
    deleted = tf.expire_snapshots(path, keep_from=2, min_age_s=0)
    assert all("data" in d for d in deleted) and len(deleted) >= 1
    assert tf.read_table(spark, path).count() == 2  # v2 = snapshots 1+2
    assert not os.path.exists(os.path.join(path, "metadata", "v1.json"))
    for f in tf.snapshots(path)[-1]["all_files"]:
        assert os.path.exists(f)  # nothing reachable was deleted


def test_review_fixes_media_robustness():
    """Truncated/foreign containers fail SOFT in the transform kernels."""
    import struct as st

    from pdf_parser_spark.operators.multimodal import (
        decimate_wav, make_wav, resize_bmp,
    )

    # truncated WAV: declared data size exceeds payload -> clamped, no raise
    full = make_wav(2, 8000, 100)
    cut = full[: 44 + 50 * 4]  # half the frames
    out = decimate_wav(cut, 2)
    assert out is not None and len(out) == 44 + 25 * 4
    # bits<8 (frame_bytes would be 0) -> None, not ZeroDivisionError
    fmt = st.pack("<HHIIHH", 1, 1, 8000, 8000, 0, 4)
    weird = (b"RIFF" + st.pack("<I", 4 + 8 + len(fmt) + 8) + b"WAVE"
             + b"fmt " + st.pack("<I", len(fmt)) + fmt
             + b"data" + st.pack("<I", 0))
    assert decimate_wav(weird, 2) is None
    # 32bpp BMP: wrong layout for the 24bpp kernel -> None (fail soft),
    # never a scrambled-but-valid output
    w = h = 4
    info32 = st.pack("<IiiHHIIiiII", 40, w, h, 1, 32, 0, w * 4 * h,
                     2835, 2835, 0, 0)
    bmp32 = (b"BM" + st.pack("<IHHI", 54 + w * 4 * h, 0, 0, 54)
             + info32 + bytes(w * 4 * h))
    assert resize_bmp(bmp32, 2, 2) is None


def test_review_fixes_dedup_null_vs_nul_text(spark):
    """NULL text and a literal '\\x00' text must NOT share a fingerprint."""
    from pdf_parser_spark.operators.pipeline import dedup_pages

    html = b"<p>x</p>"
    rows = [("http://null", html, None, "en"), ("http://nul", html, "\x00", "en")]
    df = spark.createDataFrame(
        rows, "url string, html binary, text string, lang string"
    ).withColumn("warc_ts", F.current_timestamp())
    assert dedup_pages(df).count() == 2


def test_review_fixes_lsh_empty_and_robots_rfc(spark):
    from pdf_parser_spark.operators import weburl
    from pdf_parser_spark.operators.similarity import lsh_topk

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>, label int")
    assert lsh_topk(empty).count() == 0

    txt = ("User-agent: *\n"
           "Disallow: /private/\n"
           "Disallow: /admin/\n"
           "Crawl-delay: 10\n"
           "Crawl-delay: 9\n")
    robots = spark.createDataFrame([("h", txt)], "host string, robots_txt string")
    r = weburl.parse_robots(robots).collect()[0]
    assert r["crawl_delay_ms"] == 10000          # numeric max, not string max
    assert r["disallow_all"] == "/admin/|/private/"  # ALL rules retained
    # named agent without its own group falls back to the '*' group
    r2 = weburl.parse_robots(robots, agent="FooBot").collect()[0]
    assert r2["disallow_all"] == "/admin/|/private/"
    # named agent WITH its own group ignores '*'
    txt2 = ("User-agent: FooBot\nDisallow: /fb/\n\nUser-agent: *\nDisallow: /x/\n")
    robots2 = spark.createDataFrame([("h", txt2)], "host string, robots_txt string")
    r3 = weburl.parse_robots(robots2, agent="FooBot").collect()[0]
    assert r3["disallow_all"] == "/fb/"


def test_redirect_resolution_chains_cycles_and_doubling(spark):
    from pdf_parser_spark.operators import weburl

    # chain a->b->c->T, a 2-cycle x<->y, and an isolated edge z->T2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "T"),
         ("x", "y"), ("y", "x"), ("z", "T2")],
        "src string, dst string",
    )
    out = {r["url"]: r for r in weburl.resolve_redirects(edges).collect()}
    assert out["a"]["final_url"] == "T" and out["a"]["n_hops"] == 3
    assert out["b"]["final_url"] == "T" and out["b"]["n_hops"] == 2
    assert out["c"]["final_url"] == "T" and out["c"]["n_hops"] == 1
    assert out["z"]["final_url"] == "T2" and out["z"]["n_hops"] == 1
    # cycle members never reach a terminal: flagged, NULL final — decided
    # by src-set membership, not a hop cap (no 2^K-hop false positive)
    assert out["x"]["unresolved"] and out["x"]["final_url"] is None
    assert out["y"]["unresolved"] and out["y"]["final_url"] is None
    assert not any(out[u]["unresolved"] for u in "abcz")

    # pointer doubling: a 10-hop chain resolves within 4 rounds (2^4 >= 10),
    # NOT 10 step-walk rounds — and the hop count is still exact
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i + 1}") for i in range(10)], "src string, dst string"
    )
    deep = {r["url"]: r for r in
            weburl.resolve_redirects(chain, max_doubling=4).collect()}
    assert deep["n0"]["final_url"] == "n10" and deep["n0"]["n_hops"] == 10
    assert not deep["n0"]["unresolved"]
    # under-provisioned doubling (2^2 < 10): mid-chain reach is flagged
    # unresolved because the reached url is still a redirect source
    shallow = {r["url"]: r for r in
               weburl.resolve_redirects(chain, max_doubling=2).collect()}
    assert shallow["n0"]["unresolved"] and shallow["n0"]["final_url"] is None


def test_redirect_resolution_early_stop_is_exact(spark):
    from pdf_parser_spark.operators import weburl

    # 3-hop chain: round 1 covers 2 hops, round 2 covers 4 — drained after
    # round 2, so rounds 3..6 must be skipped and the output unchanged
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "T")], "src string, dst string"
    )
    st: dict = {}
    out = {r["url"]: tuple(r) for r in
           weburl.resolve_redirects(chain, max_doubling=6, stats=st).collect()}
    assert st["rounds"] == 2, st
    full = {r["url"]: tuple(r) for r in
            weburl.resolve_redirects(chain, max_doubling=2).collect()}
    assert out == full
    # a cycle never drains: all K rounds execute, members stay flagged
    cyc = spark.createDataFrame([("x", "y"), ("y", "x")],
                                "src string, dst string")
    st2: dict = {}
    res = {r["url"]: r for r in
           weburl.resolve_redirects(cyc, max_doubling=3, stats=st2).collect()}
    assert st2["rounds"] == 3 and res["x"]["unresolved"]


def test_canonical_url_groups_collapse_chains(spark):
    from pdf_parser_spark.operators import weburl

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["canonical_url"]: r for r in
           weburl.canonical_url_groups(docs).collect()}
    # docs 0..4 all collapse onto doc 0's terminal url; keeper = min doc_id
    g0 = out["https://host0.example.com/page/0"]
    assert g0["n_docs"] == 5 and g0["keeper_doc_id"] == 0
    g5 = out["https://host5.example.com/page/5"]
    assert g5["n_docs"] == 5 and g5["keeper_doc_id"] == 5
    # the 10-group is truncated at doc 11
    g10 = out["https://host0.example.com/page/10"]
    assert g10["n_docs"] == 2 and g10["keeper_doc_id"] == 10
    # every doc lands in exactly one group
    assert sum(r["n_docs"] for r in out.values()) == 12 and len(out) == 3


def test_meta_refresh_extraction_and_chain(spark):
    from pdf_parser_spark.operators import weburl

    # handcrafted pages: uppercase variant, lowercase no-space variant,
    # a page with no tag, and a decoy mention outside a meta tag
    pages = spark.createDataFrame(
        [("u1", '<html><head><META HTTP-EQUIV="Refresh" CONTENT="0; url=u2">'
                "</head><body>x</body></html>"),
         ("u2", '<html><head><meta http-equiv="refresh" content="5;url=u3">'
                "</head><body>x</body></html>"),
         ("u3", "<html><head></head><body>plain</body></html>"),
         ("u4", '<html><body>says url=u9 and content="0; url=u9"</body>'
                "</html>")],
        "url string, html string",
    )
    edges = {(r["src"], r["dst"]) for r in
             weburl.extract_meta_redirects(pages).collect()}
    assert edges == {("u1", "u2"), ("u2", "u3")}
    out = {r["url"]: r for r in
           weburl.resolve_redirects(weburl.extract_meta_redirects(pages))
           .collect()}
    assert out["u1"]["final_url"] == "u3" and out["u1"]["n_hops"] == 2
    assert out["u2"]["final_url"] == "u3" and out["u2"]["n_hops"] == 1

    # the synthesis chains %4==1 -> %4==2 -> %4==3 terminal
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(8)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    res = {r["url"]: r for r in weburl.resolve_redirects(
        weburl.extract_meta_redirects(
            weburl.with_meta_refresh_html(docs))).collect()}
    u1 = "https://host1.example.com/page/1"
    assert res[u1]["final_url"] == "https://host3.example.com/page/3"
    assert res[u1]["n_hops"] == 2 and not res[u1]["unresolved"]
    assert len(res) == 4  # docs 1,2,5,6 carry tags; 0,3,4,7 don't


def test_synthetic_redirects_match_formula(spark):
    from pdf_parser_spark.operators import weburl

    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["url"]: r for r in weburl.resolve_redirects(
        weburl.with_synthetic_redirects(docs)).collect()}
    # doc 7 (7%5=2): two hops down to doc 5's terminal url
    u7 = "https://host7.example.com/page/7"
    assert out[u7]["final_url"] == "https://host5.example.com/page/5"
    assert out[u7]["n_hops"] == 2 and not out[u7]["unresolved"]
    # terminals (doc_id%5==0) emit no edge, so they are not sources
    assert "https://host0.example.com/page/0" not in out
    assert len(out) == 12 - 3  # 0, 5, 10 are terminal


def test_lang_mismatch_audit_matches_per_doc_predictions(spark):
    from pdf_parser_spark.operators import textstats

    docs = spark.createDataFrame(
        [(0, "the cat sat on the mat with a hat", "en", "s", 1),
         (1, "el perro y la casa que en un día", "en", "s", 1),   # declared en, looks es
         (2, "le chien et les maisons pour une fête", "fr", "s", 1),
         (3, "zzz qqq xxx", "de", "s", 1)],                        # no stopwords -> en fallback
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    audit = {(r["declared_lang"], r["predicted_lang"]): r
             for r in textstats.lang_mismatch_audit(docs).collect()}
    assert audit[("en", "en")]["n_docs"] == 1 and not audit[("en", "en")]["mismatch"]
    assert audit[("en", "es")]["n_docs"] == 1 and audit[("en", "es")]["mismatch"]
    assert audit[("fr", "fr")]["n_docs"] == 1
    assert audit[("de", "en")]["mismatch"]  # fallback counts as a mismatch
    # the audit must be exactly the groupBy of lang_id's per-doc column
    per_doc = {r["doc_id"]: r["predicted_lang"]
               for r in textstats.lang_id(docs).collect()}
    from collections import Counter
    want = Counter((r["lang"], per_doc[r["doc_id"]]) for r in docs.collect())
    assert {k: v["n_docs"] for k, v in audit.items()} == dict(want)


def test_script_stats_counts_and_dominance(spark):
    from pdf_parser_spark.operators import textstats

    docs = spark.createDataFrame(
        [(0, "pure ascii text", "en", "s", 1),
         (1, "привет", "ru", "s", 1),   # привет
         (2, "ab 你好世界あ", "zh", "s", 1),      # 2 latin, 5 cjk
         (3, "안녕", "ko", "s", 1),                            # hangul
         (4, "café Ā", "fr", "s", 1)],   # accented latin counts as latin
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["doc_id"]: r for r in textstats.script_stats(docs).collect()}
    assert out[0]["dominant_script"] == "latin" and out[0]["latin_chars"] == 13
    assert out[1]["dominant_script"] == "cyrillic" and out[1]["cyrillic_chars"] == 6
    assert out[2]["dominant_script"] == "cjk"
    assert out[2]["cjk_chars"] == 5 and out[2]["latin_chars"] == 2
    assert out[3]["dominant_script"] == "hangul" and out[3]["hangul_chars"] == 2
    assert out[4]["dominant_script"] == "latin" and out[4]["latin_chars"] == 5
    # synthesis: each %5 bucket flips dominance iff the sample outweighs
    # the short latin base
    mix = spark.createDataFrame(
        [(i, "ab", "en", "s", 1) for i in range(5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    dom = {r["doc_id"]: r["dominant_script"] for r in
           textstats.script_stats(textstats.with_script_mix(mix)).collect()}
    assert dom == {0: "latin", 1: "cyrillic", 2: "arabic", 3: "cjk", 4: "hangul"}


def test_domain_quality_prior_bp_math_and_trust_gate(spark):
    from pdf_parser_spark.operators import textstats, weburl

    # sources map to reg_domains via with_synthetic_urls; 'a' docs are
    # high-quality prose, the lone 'b' doc is junk and below the trust gate
    good = ("the cat sat on the mat with a dog and the bird "
            "for fun in the sun on a log with the frog ") * 3
    docs = spark.createDataFrame(
        [(5, good, "en", "a", 1), (10, good + "extra words here", "en", "a", 1),
         (15, good, "en", "a", 1), (20, "zz qq", "en", "b", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["reg_domain"]: r for r in
           weburl.domain_quality_prior(docs).collect()}
    q = {r["doc_id"]: r["quality"] for r in
         textstats.quality_score(docs).collect()}
    reg = {r["doc_id"]: r["reg_domain"] for r in weburl.registered_domain(
        weburl.canonicalize(weburl.with_synthetic_urls(docs))
    ).select("doc_id", "reg_domain").collect()}
    from collections import defaultdict
    bp_sum, n = defaultdict(int), defaultdict(int)
    for d in q:
        bp_sum[reg[d]] += round(q[d] * 10000)
        n[reg[d]] += 1
    for dom, r in out.items():
        assert r["n_docs"] == n[dom]
        assert r["mean_quality_bp"] == bp_sum[dom] // n[dom]
        assert r["prior_trusted"] == (n[dom] >= weburl.DOMAIN_PRIOR_MIN_DOCS)
    # the junk domain exists, is untrusted, and scores far below the good one
    trusted = [r for r in out.values() if r["prior_trusted"]]
    untrusted = [r for r in out.values() if not r["prior_trusted"]]
    assert trusted and untrusted
    assert max(u["mean_quality_bp"] for u in untrusted) < min(
        t["mean_quality_bp"] for t in trusted)


def test_crawl_budget_hamilton_apportionment(spark):
    from pdf_parser_spark.operators import weburl

    def run(rows, total):
        priors = spark.createDataFrame(
            rows, "reg_domain string, n_docs long, mean_quality_bp long, "
                  "prior_trusted boolean")
        return {r["reg_domain"]: r["budget"] for r in
                weburl.crawl_budget(priors, total=total).collect()}

    # all-equal remainders: the leftover seat goes to reg_domain asc
    out = run([("a", 5, 1, True), ("b", 5, 1, True), ("c", 5, 1, True)], 10)
    assert out == {"a": 4, "b": 3, "c": 3}
    assert sum(out.values()) == 10
    # largest remainders win: base (1,2,5), rem (3,6,5) -> b and c get +1
    out = run([("a", 5, 1, True), ("b", 5, 2, True), ("c", 5, 4, True)], 10)
    assert out == {"a": 1, "b": 3, "c": 6}
    assert sum(out.values()) == 10
    # exact division: no leftover, pure proportional shares
    out = run([("a", 5, 2, True), ("b", 5, 3, True), ("c", 5, 5, True)], 100)
    assert out == {"a": 20, "b": 30, "c": 50}
    # untrusted domains get NOTHING and don't dilute the trusted shares
    out = run([("a", 5, 1, True), ("b", 5, 1, True),
               ("junk", 1, 9999, False)], 10)
    assert out == {"a": 5, "b": 5}
    # composed with the real prior: the sum invariant holds corpus-wide
    good = ("the cat sat on the mat with a dog and the bird for fun ") * 4
    # doc_id % 5 == 0 pins the TLD variant, so each source is ONE
    # reg_domain with 6 docs — both clear the min-docs trust gate
    docs = spark.createDataFrame(
        [(i * 5, good + "x" * (i % 3), "en", f"s{i % 2}", 1)
         for i in range(12)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    comp = weburl.crawl_budget(
        weburl.domain_quality_prior(docs), total=1000).collect()
    assert len(comp) == 2
    assert sum(r["budget"] for r in comp) == 1000
    assert all(r["budget"] > 0 for r in comp)


def test_url_templates_slots_and_explosion_gate(spark):
    from pdf_parser_spark.operators import weburl

    sid = "0123456789abcdef00"  # 18 hex chars: ONE {h} slot, not {d} splits
    rows = ([(i, f"https://a.com/cal/2026/7/{i}") for i in range(10)]
            + [(100, f"https://a.com/item?sid={sid}"),
               (101, "https://a.com/item?sid=" + sid),   # recrawl of 100
               (102, "https://b.com/docs/intro")])
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {(r["host"], r["template"]): r for r in
           weburl.url_templates(df).collect()}
    cal = out[("a.com", "/cal/{d}/{d}/{d}")]
    # 10 distinct urls hit the explosion gate; digit runs all collapse
    assert cal["n_urls"] == 10 and cal["n_distinct"] == 10 and cal["explosive"]
    # the hex run is one {h} slot (hex-first ordering), the query value
    # is templated, and the RECRAWL inflates n_urls but not n_distinct
    item = out[("a.com", "/item?sid={h}")]
    assert item["n_urls"] == 2 and item["n_distinct"] == 1
    assert not item["explosive"]
    # a slot-free path survives verbatim on its own host
    assert out[("b.com", "/docs/intro")]["n_urls"] == 1


def test_trap_url_audit_rules(spark):
    from pdf_parser_spark.operators import weburl

    df = spark.createDataFrame(
        [(0, "https://a.com/docs/1"),                       # clean
         (1, "https://a.com/a/b/c/d/e/f/g/h/i"),            # depth 9 > 8
         (2, "https://a.com/cal/2026/2026/x"),              # adjacent repeat
         (3, "https://a.com/list?page=99999"),              # runaway page
         (4, "https://a.com/list?page=3"),                  # sane page
         (5, "https://a.com/i?sid=0123456789abcdef"),       # 16-hex session id
         (6, "https://a.com/i?sid=abc"),                    # short id: fine
         (7, "https://a.com/x/y/x/z"),                      # repeat NOT adjacent
         (8, "https://a.com/"),                             # single empty path
         (9, "https://a.com/cal/2026/deep/2026/2026/x?page=5000")],  # two rules
        "doc_id long, url string",
    )
    out = {r["doc_id"]: r for r in weburl.trap_url_audit(df).collect()}
    assert not out[0]["is_trap"] and out[0]["trap_reasons"] == ""
    assert out[1]["trap_reasons"] == "deep_path"
    assert out[2]["trap_reasons"] == "repeated_segment"
    assert out[3]["trap_reasons"] == "runaway_pagination"
    assert not out[4]["is_trap"]
    assert out[5]["trap_reasons"] == "session_id"
    assert not out[6]["is_trap"]
    assert not out[7]["is_trap"]  # adjacency matters: /x/y/x is legitimate
    assert not out[8]["is_trap"]
    assert out[9]["trap_reasons"] == "repeated_segment;runaway_pagination"

    # synthesis buckets map to their intended single rule
    docs = spark.createDataFrame(
        [(i, "t", "en", "s", 1) for i in range(7, 14)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    syn = {r["doc_id"] % 7: r["trap_reasons"] for r in
           weburl.trap_url_audit(weburl.with_trap_urls(docs)).collect()}
    assert syn[0] == "" and syn[5] == "" and syn[6] == ""
    assert syn[1] == "deep_path" and syn[2] == "repeated_segment"
    assert syn[3] == "runaway_pagination" and syn[4] == "session_id"


def test_recrawl_decision_precedence(spark):
    """Stage precedence on the full synthesis: hard errors drop before
    anything, a soft-404 drops even when its headers carry max-age
    (never honor freshness on an error page), and validators surface
    only on conditional_get rows."""
    from pdf_parser_spark.operators import weburl

    ids = list(range(1, 400))
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    out = {r["doc_id"]: r for r in weburl.recrawl_decision(docs).collect()}
    # 13 -> hard 404; 17 -> hard 410
    assert out[13]["action"] == "drop_hard_error"
    assert out[17]["action"] == "drop_hard_error"
    # a soft-404 (%11, not hard) whose cache flavor is max-age (%5==0):
    # doc 55 = 5*11: k = 0 (ttl) but soft-404 wins
    assert out[55]["action"] == "drop_soft404"
    # flavor routing on clean docs: 5 -> ttl (k=0) ... doc 5? 5%5==0 ok
    assert out[10]["action"] == "skip_fresh"       # k=0, clean
    assert out[6]["action"] == "refetch"           # k=1
    assert out[7]["action"] == "refetch"           # %7==0 private
    assert out[12]["action"] == "conditional_get"  # k=2
    assert out[12]["validator"] == "if-none-match"
    assert out[18]["action"] == "conditional_get"  # k=3
    assert out[18]["validator"] == "if-modified-since"
    assert out[19]["action"] == "refetch_heuristic"
    # validators only on conditional rows
    assert all(r["validator"] == "" for r in out.values()
               if r["action"] != "conditional_get")


def test_http_cache_policy_ladder(spark):
    """The RFC 9111 precedence in order: private beats a co-present
    max-age (a crawler is a shared cache), no-store beats everything,
    ETag outranks Last-Modified when both are present, and bare
    responses get the heuristic TTL."""
    from pdf_parser_spark.operators import weburl

    rows = [
        (0, "u0", "HTTP/1.1 200 OK\nCache-Control: max-age=300"),
        (1, "u1", "HTTP/1.1 200 OK\nCache-Control: no-store\n"
                  "Cache-Control: max-age=300"),
        (2, "u2", "HTTP/1.1 200 OK\nCache-Control: private, max-age=600"),
        (3, "u3", 'HTTP/1.1 200 OK\nETag: "abc"\n'
                  "Last-Modified: 2024-01-01 00:00:00 GMT"),
        (4, "u4", "HTTP/1.1 200 OK\nLast-Modified: 2024-01-01 00:00:00 GMT"),
        (5, "u5", "HTTP/1.1 200 OK\nContent-Type: text/html"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string, headers string")
    out = {r["doc_id"]: r for r in weburl.http_cache_policy(df).collect()}
    assert (out[0]["policy"], out[0]["ttl_s"]) == ("ttl", 300)
    assert out[1]["policy"] == "refetch"
    assert out[2]["policy"] == "refetch" and out[2]["ttl_s"] == -1
    assert (out[3]["policy"], out[3]["validator"]) == (
        "revalidate", "if-none-match")
    assert out[4]["validator"] == "if-modified-since"
    assert (out[5]["policy"], out[5]["ttl_s"]) == (
        "heuristic", weburl.HTTP_HEURISTIC_TTL_S)


def test_soft404_audit_rules(spark):
    from pdf_parser_spark.operators import weburl

    rows = [
        # host a.com: hard 404 at 500 and 502 bytes -> template_len = 500
        (0, "https://a.com/x0", "a.com", 404, "404 Not Found", 502),
        (1, "https://a.com/x1", "a.com", 410, "Gone", 500),
        # soft 404 by length only (within tol 8 of 500)
        (2, "https://a.com/x2", "a.com", 200, "Doc 2", 505),
        # soft 404 by title only (normal length)
        (3, "https://a.com/x3", "a.com", 200, "Error 404 - oops", 3000),
        # both rules
        (4, "https://a.com/x4", "a.com", 200, "Page Not Found", 499),
        # clean: normal title, far from template
        (5, "https://a.com/x5", "a.com", 200, "Doc 5", 2500),
        # just OUTSIDE the band (500+9) and phrase-anchored title survives
        (6, "https://a.com/x6", "a.com", 200, "Model 404 specs", 509),
        # host b.com has NO hard errors: length can never flag there
        (7, "https://b.com/y0", "b.com", 200, "Doc 7", 500),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, url string, host string, status int, title string,"
        " content_len long",
    )
    out = {r["doc_id"]: r for r in weburl.soft404_audit(df).collect()}
    # hard errors themselves are not in the 200-status output
    assert 0 not in out and 1 not in out
    assert out[2]["soft404_reasons"] == "template_len"
    assert out[3]["soft404_reasons"] == "error_title"
    assert out[4]["soft404_reasons"] == "error_title;template_len"
    assert not out[5]["is_soft404"]
    # "Model 404" is not an error phrase, and 509 is 9 > tol from 500
    assert not out[6]["is_soft404"]
    assert out[6]["template_len"] == 500
    # no probe, no verdict: b.com has no template, Doc 7 at 500 bytes clean
    assert out[7]["template_len"] is None and not out[7]["is_soft404"]


def test_typosquat_audit_channels(spark):
    from pdf_parser_spark.operators import weburl

    # defended = top-2 by doc count: paypal (3 docs), google (3 docs).
    # candidates: one per typo class + a far miss.
    rows = (
        [(i, "paypal.com") for i in range(3)]
        + [(10 + i, "google.com") for i in range(3)]
        + [
            (20, "papal.com"),      # omission      (lev 1)
            (21, "ppaypal.com"),    # doubling      (lev 1)
            (22, "apypal.com"),     # transposition (lev 2, shares variant)
            (24, "gooogle.com"),    # doubling for google
            (25, "zebra.com"),      # unrelated: no pair at all
        ]
    )
    df = spark.createDataFrame(rows, "doc_id long, domain string")
    out = weburl.typosquat_audit(df, top_n=2).collect()
    got = {(r["candidate_sld"], r["defended_sld"]): r for r in out}
    assert ("papal", "paypal") in got
    assert got[("papal", "paypal")]["lev"] == 1
    assert got[("papal", "paypal")]["len_delta"] == -1
    assert ("ppaypal", "paypal") in got
    assert ("apypal", "paypal") in got
    assert got[("apypal", "paypal")]["lev"] == 2
    assert ("gooogle", "google") in got
    assert all(c != "zebra" for c, _ in got)
    # defended names never appear as candidates
    assert all(c not in ("paypal", "google") for c, _ in got)

    # homoglyph channel: 'rn' ~ 'm' pairs share NO 1-deletion variant
    # (lev 2 at len delta 1), so only the skeleton channel can find them
    rows2 = [(i, "modern.com") for i in range(3)] + [(9, "rnodern.com")]
    df2 = spark.createDataFrame(rows2, "doc_id long, domain string")
    out2 = {(r["candidate_sld"], r["defended_sld"]): r
            for r in weburl.typosquat_audit(df2, top_n=1).collect()}
    hit = out2[("rnodern", "modern")]
    assert hit["is_homoglyph"] and hit["lev"] == 2 and hit["len_delta"] == 1
    assert hit["n_docs"] == 1


def test_sitemap_discovery_from_robots_bytes(spark):
    from pdf_parser_spark.operators import weburl

    # hand-built robots: sitemap lines anywhere in the file (RFC 9309
    # §2.3 non-group directive), mid-group and trailing; decoys that are
    # not line-anchored must NOT match
    robots = spark.createDataFrame(
        [("h1.com", "User-agent: *\nDisallow: /a/\n"
                    "Sitemap: https://h1.com/sitemap.xml\n"),
         ("h2.com", "Sitemap: https://h2.com/a.xml\nUser-agent: *\n"
                    "Disallow:\nSitemap: https://h2.com/b.xml\n"),
         ("h3.com", "User-agent: *\n# see Sitemap: https://decoy/x.xml\n"
                    "Disallow: /\n")],
        "host string, robots_txt string",
    )
    out = [(r["host"], r["sitemap_url"]) for r in
           weburl.discover_sitemaps(robots).collect()]
    assert out == [("h1.com", "https://h1.com/sitemap.xml"),
                   ("h2.com", "https://h2.com/a.xml"),
                   ("h2.com", "https://h2.com/b.xml")]

    # synthesis: every host declares the main sitemap; even-length hosts
    # add the news one — and the robots bytes the OTHER ops parse still
    # parse identically after the append
    hosts = spark.createDataFrame([("ab.com",), ("abc.com",)], "host string")
    disc = [(r["host"], r["sitemap_url"]) for r in weburl.discover_sitemaps(
        weburl.with_robots_sitemaps(hosts)).collect()]
    assert ("ab.com", "https://ab.com/sitemap.xml") in disc
    assert ("ab.com", "https://ab.com/news-sitemap.xml") in disc  # len 6 even
    assert ("abc.com", "https://abc.com/sitemap.xml") in disc
    assert ("abc.com", "https://abc.com/news-sitemap.xml") not in disc
    base = {r["host"]: (r["disallow_prefix"], r["crawl_delay_ms"]) for r in
            weburl.parse_robots(weburl.with_robots_txt(hosts)).select(
                "host", F.coalesce("disallow_prefix", F.lit("")).alias("disallow_prefix"),
                "crawl_delay_ms").collect()}
    aug = {r["host"]: (r["disallow_prefix"], r["crawl_delay_ms"]) for r in
           weburl.parse_robots(weburl.with_robots_sitemaps(hosts)).select(
               "host", F.coalesce("disallow_prefix", F.lit("")).alias("disallow_prefix"),
               "crawl_delay_ms").collect()}
    assert base == aug


def test_robots_allow_longest_match_decisions(spark):
    from pdf_parser_spark.operators import weburl

    # handcrafted rules incl. an EQUAL-LENGTH allow/disallow tie
    rules = spark.createDataFrame(
        [("h", "disallow", "/docs/"),
         ("h", "allow", "/docs/pub/"),
         ("h", "allow", "/x/"),      # same length as the next
         ("h", "disallow", "/y/")],
        "host string, kind string, prefix string",
    )
    urls = spark.createDataFrame(
        [(0, "h", "https://h/free"),           # no match -> allowed
         (1, "h", "https://h/docs/a"),         # disallow /docs/
         (2, "h", "https://h/docs/pub/a"),     # longer allow overrides
         (3, "h", "https://h/x/a"),            # allow
         (4, "h", "https://h/y/a")],           # disallow
        "doc_id long, host string, canonical_url string",
    )
    out = {r["doc_id"]: r for r in
           weburl.robots_decision(urls, rules).collect()}
    assert out[0]["allowed"] and out[0]["match_kind"] == ""
    assert not out[1]["allowed"] and out[1]["match_len"] == 6
    assert out[2]["allowed"] and out[2]["match_len"] == 10
    assert out[3]["allowed"] and not out[4]["allowed"]

    # equal-length tie: RFC's least-restrictive rule — allow wins
    tie = spark.createDataFrame(
        [("h", "allow", "/t/"), ("h", "disallow", "/t/")],
        "host string, kind string, prefix string",
    )
    turl = spark.createDataFrame([(9, "h", "https://h/t/page")],
                                 "doc_id long, host string, canonical_url string")
    r = weburl.robots_decision(turl, tie).collect()[0]
    assert r["allowed"] and r["match_kind"] == "allow"

    # rules parsed from REAL bytes through the shared group resolver
    hosts = spark.createDataFrame([("ab.com",), ("abcde.org",)], "host string")
    parsed = {(r["host"], r["kind"], r["prefix"]) for r in
              weburl.parse_robots_rules(
                  weburl.with_robots_allow(hosts)).collect()}
    assert ("ab.com", "allow", "/docs/1") in parsed     # len 6: even
    assert ("ab.com", "disallow", "/a/") in parsed      # len 6: %3==0
    assert ("abcde.org", "disallow", "/docs/") in parsed
    assert ("abcde.org", "allow", "/docs/1") not in parsed  # len 9: odd


def test_w7_cohort_retention_multi_cohort(spark, tmp_path):
    """Cohort retention over a hand-built 3-week event log: two cohorts,
    partial retention, a week-skip (offset 2 without offset 1), and exact
    bp shares; a user's cohort is their FIRST active week even when most
    activity comes later."""
    import datetime as dt

    from pdf_parser_spark.plans.relational import WEEK_S, w7_cohort_retention

    utc = dt.timezone.utc
    base = dt.datetime(2026, 1, 1, tzinfo=utc)  # inside some epoch week W
    w = lambda k, h=0: base + dt.timedelta(seconds=k * WEEK_S + h * 3600)  # noqa: E731
    rows = [
        # cohort A (week 0): users 1,2,3,4
        (1, w(0), 1, "view", 1.0, "{}"),
        (2, w(0), 2, "view", 1.0, "{}"),
        (3, w(0), 3, "view", 1.0, "{}"),
        (4, w(0), 4, "view", 1.0, "{}"),
        # week 1: users 1,2 return (50%); user 5 starts cohort B
        (5, w(1), 1, "click", 1.0, "{}"),
        (6, w(1, 5), 1, "view", 1.0, "{}"),   # same week twice -> counted once
        (7, w(1), 2, "view", 1.0, "{}"),
        (8, w(1), 5, "view", 1.0, "{}"),
        # week 2: user 3 returns after skipping week 1; user 5 returns
        (9, w(2), 3, "view", 1.0, "{}"),
        (10, w(2), 5, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.parquet(str(tmp_path / "events.parquet"))
    out = {(r["cohort_week"] - rows[0][1].timestamp() // WEEK_S,
            r["week_offset"]): (r["n_active"], r["cohort_size"],
                                r["retained_bp"])
           for r in w7_cohort_retention(spark, str(tmp_path)).collect()}
    out = {(int(cw), off): v for (cw, off), v in out.items()}
    assert out[(0, 0)] == (4, 4, 10000)
    assert out[(0, 1)] == (2, 4, 5000)     # users 1,2 (user 1 deduped)
    assert out[(0, 2)] == (1, 4, 2500)     # user 3 skipped week 1
    assert out[(1, 0)] == (1, 1, 10000)    # cohort B
    assert out[(1, 1)] == (1, 1, 10000)
    assert len(out) == 5


def test_zipf_buckets_geometric_ladder(spark):
    """Zipf audit over an exact synthetic rank-frequency corpus: term k
    repeated 2^k times lands alone in bucket k with the exact token share;
    bucket stats (min/max/type counts) pin the floor-log2 rule including
    the 2^k boundary (count 8 -> bucket 3, count 7 -> bucket 2)."""
    from pdf_parser_spark.operators import textstats as T

    text = " ".join(
        ["a"] * 1 + ["b"] * 2 + ["c"] * 3 + ["d"] * 4 + ["e"] * 7 + ["f"] * 8
    )
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r["log2_count"]: r for r in T.zipf_buckets(docs).collect()}
    total = 25
    assert set(out) == {0, 1, 2, 3}
    assert (out[0]["n_types"], out[0]["n_tokens"]) == (1, 1)          # a
    assert (out[1]["n_types"], out[1]["n_tokens"]) == (2, 5)          # b,c
    assert (out[2]["n_types"], out[2]["min_count"],
            out[2]["max_count"]) == (2, 4, 7)                          # d,e
    assert (out[3]["n_types"], out[3]["n_tokens"]) == (1, 8)          # f
    assert out[3]["token_share_bp"] == 10000 * 8 // total
    assert sum(r["n_tokens"] for r in out.values()) == total


def test_streaming_neardup_first_seen_keeper_across_batches(spark, tmp_path):
    """Streaming LSH near-dup feed: within one batch the keeper is the
    bucket's min doc_id; across batches election is FIRST-SEEN-WINS — a
    lower doc_id arriving later is flagged against the EXISTING keeper
    (the documented asymmetry vs batch min-election); non-colliding docs
    emit nothing."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.neardup import stream_neardup

    def write_batch(path, rows):
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["s"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }), path)

    dup_text = " ".join(f"w{j}" for j in range(20))  # identical => all bands
    other = "completely different content with no shared shingles at all"
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 0: docs 10 and 7 are copies -> keeper 7 (min within batch)
    write_batch(str(in_dir / "b0.parquet"), [(10, dup_text), (7, dup_text),
                                             (50, other)])
    q = stream_neardup(spark, str(in_dir), str(tmp_path / "ckpt"),
                       "neardup_test")
    q.processAllAvailable()
    rows0 = spark.table("neardup_test").collect()
    assert {r["doc_id"] for r in rows0} == {10}
    assert {r["keeper_doc_id"] for r in rows0} == {7}
    assert len(rows0) == 4  # identical text collides on all 4 bands

    # batch 1: doc 3 (LOWER than keeper 7) arrives late -> flagged vs 7,
    # which keeps its buckets (first-seen-wins, NOT re-election)
    write_batch(str(in_dir / "b1.parquet"), [(3, dup_text)])
    q.processAllAvailable()
    q.stop()
    rows1 = [r for r in spark.table("neardup_test").collect()
             if r["doc_id"] == 3]
    assert len(rows1) == 4
    assert {r["keeper_doc_id"] for r in rows1} == {7}
    # the non-colliding doc never appears on either side
    allr = spark.table("neardup_test").collect()
    assert all(r["doc_id"] != 50 and r["keeper_doc_id"] != 50 for r in allr)


def test_audio_neardup_trim_containment_and_thresholds(spark):
    """Audio near-dup over REAL written RIFF bytes: the head-trimmed repost
    re-chunks onto original windows 1.. (pinned window-by-window through
    audio_energy), is contained 100%, a hand-built one-shared-window cross
    pair sits exactly at the 5000-bp threshold, and disjoint audio is
    isolated."""
    from pdf_parser_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(1,), (4,), (7,)], "doc_id long")  # % 3 == 1 -> tone WAVs
    caps = mm.audio_captures(docs)
    en = {(r["doc_id"], r["win_idx"]): r["energy"]
          for r in mm.audio_energy(
              caps.withColumnRenamed("cap_id", "doc_id")).collect()}
    # re-chunk alignment: copy window k == original window k+1, exactly
    for d in (1, 4, 7):
        orig = sorted(k[1] for k in en if k[0] == d)
        copy = sorted(k[1] for k in en if k[0] == d + mm.AUD_COPY_OFFSET)
        assert len(copy) == len(orig) - 1
        for k in copy:
            assert en[(d + mm.AUD_COPY_OFFSET, k)] == en[(d, k + 1)]

    pairs = {(r["cap_a"], r["cap_b"]): r
             for r in mm.audio_neardup(docs).collect()}
    for d in (1, 4, 7):
        p = pairs[(d, d + mm.AUD_COPY_OFFSET)]
        assert p["contain_bp"] == 10000 and p["is_trim_pair"]
    # distinct docs' tones never collide on these ids
    assert all(a % mm.AUD_COPY_OFFSET == b % mm.AUD_COPY_OFFSET
               for a, b in pairs)

    # hand-built boundary case on the raw fold: capture X has windows
    # {e1, e2}, capture Y has {e2, e3, e4} -> shared 1, min side 2 ->
    # exactly 5000 bp (kept); capture Z has {e5} -> no pair at all
    import struct as st

    import numpy as np

    def wav_of(windows):
        # each entry is a constant int16 amplitude for one full window
        samples = np.concatenate([
            np.full(mm.AE_WIN, amp, dtype="<i2") for amp in windows])
        data = samples.tobytes()
        fmt = st.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
        body = (b"WAVE" + b"fmt " + st.pack("<I", len(fmt)) + fmt
                + b"data" + st.pack("<I", len(data)) + data)
        return b"RIFF" + st.pack("<I", len(body)) + body

    raw = spark.createDataFrame(
        [(10, wav_of([100, 200])), (20, wav_of([200, 300, 400])),
         (30, wav_of([500]))],
        "cap_id long, payload binary")
    fps = (mm.audio_energy(raw.withColumnRenamed("cap_id", "doc_id"))
           .select(F.col("doc_id").alias("cap_id"), "energy").distinct())
    got = fps.collect()
    assert len(got) == 6  # 2 + 3 + 1 distinct energies
    # reuse the operator's fold via a tiny local twin on the boundary data
    from collections import defaultdict
    sets = defaultdict(set)
    for r in got:
        sets[r["cap_id"]].add(r["energy"])
    shared = len(sets[10] & sets[20])
    assert shared == 1
    assert (10000 * shared) // min(len(sets[10]), len(sets[20])) == 5000
    assert not (sets[10] & sets[30]) and not (sets[20] & sets[30])


def test_streaming_dedup_watermark_bounded_state_evicts(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a mirror inside the delay window is
    dropped; once the watermark passes the original's expiry the state row
    evicts and a LATE mirror is re-emitted — the stated price of bounded
    state (dedup within the window, none beyond it)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.dedup import stream_dedup_within_watermark

    def write_batch(path, rows):
        pq.write_table(pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["s"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    name = "dedupwm_test"
    # delay 10 min = 600 s; ts = doc_id seconds (+ constant base)
    write_batch(str(in_dir / "b0.parquet"), [(1000, "alpha text")])
    q = stream_dedup_within_watermark(
        spark, str(in_dir), str(tmp_path / "ckpt"), name)
    q.processAllAvailable()
    # in-window mirror (100 s later) dropped; unrelated row advances wm
    write_batch(str(in_dir / "b1.parquet"),
                [(1100, "ALPHA   TEXT"), (2000, "beta text")])
    q.processAllAvailable()
    assert spark.table(name).count() == 2  # alpha once + beta
    # advance the watermark far past alpha's expiry -> state evicts
    write_batch(str(in_dir / "b2.parquet"), [(5000, "gamma text")])
    q.processAllAvailable()
    # late mirror AFTER eviction is re-emitted
    write_batch(str(in_dir / "b3.parquet"), [(5100, "alpha text")])
    q.processAllAvailable()
    q.stop()
    fps = [r["fp"] for r in spark.table(name).collect()]
    assert len(fps) == 4  # alpha, beta, gamma, alpha-again
    from collections import Counter
    assert max(Counter(fps).values()) == 2  # exactly the re-admitted fp


def test_streaming_rate_limit_cross_batch_politeness(spark, tmp_path):
    """Rate-limiter pins: within a batch the schedule walks the max-plus
    recurrence in (arrival, doc_id) order; ACROSS batches the host's
    last_emit persists, so a later batch arriving 'too early' is pushed
    to last_emit + delay — the politeness guarantee a stateless window
    can't give.  Expected values come from a python recurrence twin over
    the op's own arrival/delay columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.ratelimit import (
        stream_rate_limit, with_arrivals,
    )

    docs = spark.createDataFrame(
        [(i, f"text {i}", "en", "s", 6) for i in range(100)],
        "doc_id long, text string, lang string, source string, n_chars long")
    meta = {r["doc_id"]: (r["host"], r["arrival_ms"], r["delay_ms"])
            for r in with_arrivals(docs).collect()}
    by_host = {}
    for d, (h, a, dl) in meta.items():
        by_host.setdefault(h, []).append((d, a, dl))
    host, mem = next((h, m) for h, m in sorted(by_host.items())
                     if len(m) >= 4 and m[0][2] > 0)
    ids = sorted(d for d, _, _ in mem)
    b0_ids, b1_id = ids[:3], ids[3]
    delay = mem[0][2]

    def write_batch(path, idlist):
        pq.write_table(pa.table({
            "doc_id": pa.array(idlist, pa.int64()),
            "text": pa.array([f"text {i}" for i in idlist], pa.string()),
            "lang": pa.array(["en"] * len(idlist), pa.string()),
            "source": pa.array(["s"] * len(idlist), pa.string()),
            "n_chars": pa.array([6] * len(idlist), pa.int64()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_batch(str(in_dir / "b0.parquet"), b0_ids)
    q = stream_rate_limit(spark, str(in_dir), str(tmp_path / "ckpt"),
                          "ratelimit_test")
    q.processAllAvailable()

    # python twin over batch 0 in (arrival, doc_id) order
    order0 = sorted(b0_ids, key=lambda d: (meta[d][1], d))
    exp, last = {}, None
    for d in order0:
        arr = meta[d][1]
        e = arr if last is None else max(arr, last + delay)
        exp[d] = e
        last = e
    got0 = {r["doc_id"]: r["emit_ms"]
            for r in spark.table("ratelimit_test").collect()
            if r["host"] == host}
    assert got0 == exp

    write_batch(str(in_dir / "b1.parquet"), [b1_id])
    q.processAllAvailable()
    q.stop()
    got1 = {r["doc_id"]: (r["emit_ms"], r["wait_ms"])
            for r in spark.table("ratelimit_test").collect()
            if r["host"] == host}
    arr1 = meta[b1_id][1]
    e1 = max(arr1, last + delay)
    assert got1[b1_id] == (e1, e1 - arr1)
    # the cross-batch case is only interesting if the state actually bound
    if arr1 < last + delay:
        assert got1[b1_id][1] > 0


def test_mor_delete_sequence_rule_read_and_cdc(spark, tmp_path):
    """Merge-on-read equality deletes: the delete commit rewrites ZERO
    data files, reads apply it at scan time, a NULL key is dropped from
    the delete set, pre-delete versions time-travel undeleted, a key
    re-inserted AFTER the delete survives it (the v2 strictly-older
    sequence rule), CDC surfaces the deletion as 'delete' rows, and
    every rewrite op refuses while deletes are pending."""
    import unittest.mock as mock

    import pytest as _pytest

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for k, lo in enumerate((0, 100)):  # disjoint ranges -> zone scoping
        df = spark.createDataFrame(
            [(lo + i, f"v{k}_{i}") for i in range(5)], "id long, v string"
        ).coalesce(1)
        tf.append_snapshot(df, path)

    keys = spark.createDataFrame([(101,), (103,), (None,)], "id long")
    info = tf.delete_keys(spark, keys, path, "id")
    assert info == {"version": 3, "n_delete_files": 1, "skipped": False}
    meta = tf._read_version(path, 3)
    assert len(meta["all_files"]) == 2          # no data file touched
    assert len(meta["delete_files"]) == 1
    assert {r["id"] for r in tf.read_table(spark, path).collect()} == \
        {0, 1, 2, 3, 4, 100, 102, 104}
    assert 101 in {r["id"]
                   for r in tf.read_table(spark, path, version=2).collect()}
    # CDC across the delete version = exactly the two deleted rows
    ch = tf.table_changes(spark, path, 2, 3).collect()
    assert {(r["id"], r["_change"]) for r in ch} == \
        {(101, "delete"), (103, "delete")}

    # sequence rule: re-insert one deleted key AFTER the delete
    tf.append_snapshot(
        spark.createDataFrame([(101, "REBORN")], "id long, v string")
        .coalesce(1), path)
    rows4 = {r["id"]: r["v"] for r in tf.read_table(spark, path).collect()}
    assert rows4[101] == "REBORN" and 103 not in rows4

    # rewrites refuse while deletes are pending
    upd = spark.createDataFrame([(1, "x")], "id long, v string")
    for op in (lambda: tf.compact_table(spark, path),
               lambda: tf.merge_snapshot(spark, upd, path, "id"),
               lambda: tf.zorder_table(spark, path, "id", "id")):
        with _pytest.raises(RuntimeError, match="purge_deletes"):
            op()

    # delete race refusal (compaction doctrine)
    with mock.patch.object(tf, "current_version", return_value=3):
        with _pytest.raises(RuntimeError, match="concurrent commit"):
            tf.delete_keys(spark, keys, path, "id")

    # GC never collects a pending delete file
    import os
    dfile = meta["delete_files"][0]["file"]
    deleted = tf.expire_snapshots(path, keep_from=4, min_age_s=0)
    assert dfile not in deleted and os.path.exists(dfile)


def test_mor_purge_zone_scoped_and_hash_identical(spark, tmp_path):
    """purge_deletes pins: only data files whose zone range overlaps an
    applicable delete rewrite (the [0,4] file rides untouched; the file
    appended AFTER the delete is untouched by the sequence rule even
    though its key collides), content is row-identical before/after,
    the delete files drop out of the manifest, and a clean table is a
    no-op."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for k, lo in enumerate((0, 100)):
        df = spark.createDataFrame(
            [(lo + i, f"v{k}_{i}") for i in range(5)], "id long, v string"
        ).coalesce(1)
        tf.append_snapshot(df, path)
    tf.delete_keys(
        spark, spark.createDataFrame([(101,), (103,)], "id long"),
        path, "id")
    tf.append_snapshot(
        spark.createDataFrame([(101, "REBORN")], "id long, v string")
        .coalesce(1), path)

    before = sorted((r["id"], r["v"])
                    for r in tf.read_table(spark, path).collect())
    info = tf.purge_deletes(spark, path)
    assert info["version"] == 5
    assert info["n_files_rewritten"] == 1      # only the 100-range file
    assert info["n_files_untouched"] == 2      # [0,4] + the post-delete file
    meta = tf._read_version(path, 5)
    assert meta["delete_files"] == []
    after = sorted((r["id"], r["v"])
                   for r in tf.read_table(spark, path).collect())
    assert after == before
    # pre-purge version still merges at read time
    assert 103 not in {r["id"]
                       for r in tf.read_table(spark, path, version=4).collect()}
    # clean-table no-op
    assert tf.purge_deletes(spark, path)["n_files_rewritten"] == 0


def test_schema_evolution_add_drop_and_refusals(spark, tmp_path):
    """Schema evolution pins: add-column appends record the union schema
    and NULL-backfill older files at read; a writer may OMIT an optional
    column (reads NULL); drop_columns is metadata-only (same file list)
    and time travel still shows the pre-drop schema; type conflicts,
    unknown-column drops, retired-name re-adds, and dropping a pending
    delete's key column all refuse."""
    import pytest as _pytest

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    tf.append_snapshot(
        spark.createDataFrame([(0, "a0"), (1, "a1")], "id long, a string")
        .coalesce(1), path)
    tf.append_snapshot(
        spark.createDataFrame([(2, "a2", 20)], "id long, a string, b long")
        .coalesce(1), path)
    # writer omitting an optional column: b absent -> NULL
    tf.append_snapshot(
        spark.createDataFrame([(3, "a3")], "id long, a string")
        .coalesce(1), path)

    rows = {r["id"]: (r["a"], r["b"])
            for r in tf.read_table(spark, path).collect()}
    assert rows == {0: ("a0", None), 1: ("a1", None),
                    2: ("a2", 20), 3: ("a3", None)}

    # type conflict refuses (no silent promotion)
    with _pytest.raises(ValueError, match="schema conflict"):
        tf.append_snapshot(
            spark.createDataFrame([(4, 9)], "id long, a long").coalesce(1),
            path)

    # metadata-only drop: same files, column gone, time travel keeps it
    files_before = tf._read_version(path, 3)["all_files"]
    v = tf.drop_columns(spark, path, ["a"])
    assert v == 4
    meta4 = tf._read_version(path, 4)
    assert meta4["all_files"] == files_before
    assert set(tf.read_table(spark, path).columns) == {"id", "b"}
    assert "a" in tf.read_table(spark, path, version=3).columns

    # retired-name re-add refuses (name mapping would resurrect values)
    with _pytest.raises(ValueError, match="retired"):
        tf.append_snapshot(
            spark.createDataFrame([(5, "ghost")], "id long, a string")
            .coalesce(1), path)
    # ... on a branch too: fast_forward would publish the revived values
    tf.create_branch(path, "revive")
    with _pytest.raises(ValueError, match="retired"):
        tf.branch_append(
            spark.createDataFrame([(5, "ghost")], "id long, a string")
            .coalesce(1), path, "revive")
    with _pytest.raises(ValueError, match="cannot drop unknown"):
        tf.drop_columns(spark, path, ["nope"])
    with _pytest.raises(ValueError, match="cannot drop every"):
        tf.drop_columns(spark, path, ["id", "b"])

    # a rewrite through the evolved schema physically sheds dropped bytes
    tf.compact_table(spark, path)
    got = sorted((r["id"], r["b"]) for r in tf.read_table(spark, path).collect())
    assert got == [(0, None), (1, None), (2, 20), (3, None)]

    # dropping the key of a pending MOR delete refuses
    tf.delete_keys(
        spark, spark.createDataFrame([(1,)], "id long"), path, "id")
    with _pytest.raises(ValueError, match="purge_deletes"):
        tf.drop_columns(spark, path, ["id"])


# every commit that rewrites table state refuses a lost race instead of
# retrying on top of the racer (only appends retry)
_REWRITE_OPS = {
    "rollback_to": lambda s, tf, p: tf.rollback_to(p, 1),
    "evolve_partition_spec": lambda s, tf, p: tf.evolve_partition_spec(
        p, [("identity", "v")]),
    "overwrite_snapshot": lambda s, tf, p: tf.overwrite_snapshot(
        s.createDataFrame([(9, "o")], "id long, v string"), p),
    "compact_table": lambda s, tf, p: tf.compact_table(s, p),
    "merge_snapshot": lambda s, tf, p: tf.merge_snapshot(
        s, s.createDataFrame([(1, "m")], "id long, v string"), p, "id"),
    "delete_keys": lambda s, tf, p: tf.delete_keys(
        s, s.createDataFrame([(1,)], "id long"), p, "id"),
    "delete_positions": lambda s, tf, p: tf.delete_positions(
        s, tf.positions_of(s, p, F.col("id") == 1), p),
    "purge_deletes": lambda s, tf, p: tf.purge_deletes(s, p),
    "drop_columns": lambda s, tf, p: tf.drop_columns(s, p, ["v"]),
    "zorder_table": lambda s, tf, p: tf.zorder_table(s, p, "id", "id"),
}


@pytest.mark.parametrize("op", sorted(_REWRITE_OPS))
def test_rewrite_commits_refuse_a_lost_race(spark, tmp_path, op):
    """A racer's v<N+1> is on disk while the op's base read is pinned at
    v<N>: the op raises, the racer's manifest is untouched, and the
    refused op leaves no data dir and no temp file behind."""
    import json
    import unittest.mock as mock

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for lo in (0, 10):
        tf.append_snapshot(spark.createDataFrame(
            [(lo + i, f"v{lo + i}") for i in range(4)], "id long, v string"
        ).coalesce(1), path)
    if op == "purge_deletes":
        tf.delete_keys(spark, spark.createDataFrame([(11,)], "id long"),
                       path, "id")
    n = tf.current_version(path)
    md = os.path.join(path, "metadata")
    racer = os.path.join(md, f"v{n + 1}.json")
    with open(racer, "w") as f:
        json.dump({**tf._read_version(path, n), "version": n + 1,
                   "snapshot_id": "racer", "parent_version": n}, f)
    with open(racer) as f:
        racer_body = f.read()
    data_dirs = sorted(os.listdir(os.path.join(path, "data")))
    # current_version and every other base read list through _versions
    with mock.patch.object(tf, "_versions",
                           return_value=list(range(1, n + 1))):
        with pytest.raises(RuntimeError, match="concurrent commit"):
            _REWRITE_OPS[op](spark, tf, path)
    with open(racer) as f:
        assert f.read() == racer_body
    assert sorted(os.listdir(os.path.join(path, "data"))) == data_dirs
    assert not [f for f in os.listdir(md) if f.startswith(".tmp-")]


def test_schema_evolution_through_merge_and_mor(spark, tmp_path):
    """Evolution composes with the row-level ops: a COW merge may CARRY a
    new column (kept rows backfill NULL), and the MOR read path reads
    through the evolved schema (a delete over heterogeneous-schema file
    groups unions them by name)."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    tf.append_snapshot(
        spark.createDataFrame([(0, "v0"), (1, "v1")], "id long, v string")
        .coalesce(1), path)
    # merge brings a NEW column c
    tf.merge_snapshot(
        spark,
        spark.createDataFrame([(1, "V1", "c1")], "id long, v string, c string"),
        path, "id")
    rows = {r["id"]: (r["v"], r["c"])
            for r in tf.read_table(spark, path).collect()}
    assert rows == {0: ("v0", None), 1: ("V1", "c1")}

    # append an old-schema batch, then MOR-delete across the mixed files
    tf.append_snapshot(
        spark.createDataFrame([(2, "v2")], "id long, v string").coalesce(1),
        path)
    tf.delete_keys(spark, spark.createDataFrame([(0,), (2,)], "id long"),
                   path, "id")
    rows = {r["id"]: (r["v"], r["c"])
            for r in tf.read_table(spark, path).collect()}
    assert rows == {1: ("V1", "c1")}
    tf.purge_deletes(spark, path)
    rows = {r["id"]: (r["v"], r["c"])
            for r in tf.read_table(spark, path).collect()}
    assert rows == {1: ("V1", "c1")}


def test_sq8_codes_and_quantized_cosine_twin(spark):
    """SQ8 pins: codes reproduce the python floor-formula twin exactly
    (mn maps to 0, mx to 255), the integer sufficient statistics fold
    correctly, the quantized cosine matches a python decode-then-cosine
    twin at 4dp on every pair, and on a well-separated corpus the SQ8
    top-1 agrees with exact brute force."""
    import math

    from pdf_parser_spark.operators.similarity import (
        SQ8_LEVELS, brute_force_topk, sq8_encode, sq8_range, sq8_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.1]),
        (1, [0.9, 0.1, 0.0, 0.2]),     # near 0
        (2, [0.0, 1.0, 0.3, -0.5]),    # far from 0
        (3, [0.05, 0.95, 0.25, -0.4]), # near 2
        (4, [-0.5, -0.5, 1.0, 0.6]),
    ]
    emb = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        "vec_id long, embedding array<float>")
    # float storage: quantize against the values as DOUBLES of the floats
    vals = {i: [float(__import__("numpy").float32(x)) for x in v]
            for i, v in rows}

    mn, mx = sq8_range(emb)
    assert mn == min(x for v in vals.values() for x in v)
    assert mx == max(x for v in vals.values() for x in v)

    scale = SQ8_LEVELS / (mx - mn)
    exp_codes = {
        i: [min(max(math.floor((x - mn) * scale), 0), SQ8_LEVELS)
            for x in v]
        for i, v in vals.items()
    }
    # landmarks: the min component codes 0, the max codes exactly 255
    assert 0 in {c for v in exp_codes.values() for c in v}
    assert SQ8_LEVELS in {c for v in exp_codes.values() for c in v}

    enc = {r["vec_id"]: r for r in sq8_encode(emb, mn, mx).collect()}
    for i, cs in exp_codes.items():
        assert enc[i]["codes"] == cs, i
        assert enc[i]["s1"] == sum(cs)
        assert enc[i]["s2"] == sum(c * c for c in cs)

    # python decode-then-cosine twin over every output pair
    s = (mx - mn) / SQ8_LEVELS
    def dec(cs):
        return [mn + c * s for c in cs]
    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(x * x for x in b)))
    out = sq8_topk(emb, n_queries=5, k=4).collect()
    for r in out:
        exp = round(cos(dec(exp_codes[r["query_id"]]),
                        dec(exp_codes[r["neighbor_id"]])), 4)
        assert abs(r["cos_sq8"] - exp) < 1e-9, (r, exp)

    # top-1 agreement with exact brute force on this separated corpus
    b1 = {r["query_id"]: r["neighbor_id"]
          for r in brute_force_topk(emb, n_queries=5, k=1).collect()}
    s1 = {r["query_id"]: r["neighbor_id"] for r in out if r["rank"] == 1}
    assert s1 == b1


def test_streaming_gdpr_delete_sink_and_token_replay(spark, tmp_path):
    """GDPR sink pins: each request micro-batch commits ONE MOR delete
    version (no data file rewritten), the token ledger records
    '<app>:<batch>', and the exactly-once guard has teeth — after a
    deleted key is RE-INSERTED, replaying the original batch token skips
    (the blind replay would re-delete under a higher sequence), while a
    fresh token deletes as usual."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.sources import tableformat as tf
    from pdf_parser_spark.streaming.pipeline import stream_delete_table

    tbl = str(tmp_path / "tbl")
    tf.append_snapshot(
        spark.createDataFrame([(i, f"v{i}") for i in range(10)],
                              "doc_id long, v string").coalesce(1), tbl)
    in_dir = tmp_path / "in"
    in_dir.mkdir()

    def req(name, ids):
        pq.write_table(
            pa.table({"doc_id": pa.array(ids, pa.int64())}),
            str(in_dir / name))

    req("b0.parquet", [3, 5])
    q = stream_delete_table(spark, str(in_dir), tbl, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    assert {r["doc_id"] for r in tf.read_table(spark, tbl).collect()} == \
        {0, 1, 2, 4, 6, 7, 8, 9}

    req("b1.parquet", [7])
    q.processAllAvailable()
    q.stop()
    meta = tf._read_version(tbl, tf.current_version(tbl))
    assert meta["applied_tokens"] == ["gdpr:0", "gdpr:1"]
    assert len(meta["delete_files"]) == 2
    assert len(meta["all_files"]) == 1      # zero data files rewritten
    assert {r["doc_id"] for r in tf.read_table(spark, tbl).collect()} == \
        {0, 1, 2, 4, 6, 8, 9}

    # re-insert a deleted key, then replay the original batch's token
    tf.append_snapshot(
        spark.createDataFrame([(3, "REBORN")], "doc_id long, v string")
        .coalesce(1), tbl)
    replay = spark.createDataFrame([(3,), (5,)], "doc_id long")
    r = tf.delete_keys(spark, replay, tbl, "doc_id", token="gdpr:0")
    assert r["skipped"] is True
    rows = {r["doc_id"]: r["v"] for r in tf.read_table(spark, tbl).collect()}
    assert rows[3] == "REBORN"              # the replay did NOT re-delete

    # a genuinely new request under a fresh token deletes it again
    r2 = tf.delete_keys(spark, replay, tbl, "doc_id", token="gdpr:2")
    assert r2["skipped"] is False
    assert 3 not in {r["doc_id"]
                     for r in tf.read_table(spark, tbl).collect()}


def test_incremental_mv_signed_fold_per_commit_kind(spark, tmp_path):
    """Incremental-MV pins on an engineered table: after EVERY commit
    (append, COW update that moves rows between groups, MOR delete that
    zeroes a group) the maintained view equals a direct recompute of that
    version; the zeroed group is DROPPED, not kept at 0."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    rows = [(0, "en"), (1, "en"), (2, "de"), (3, "de"), (4, "fr")]
    tf.append_snapshot(
        spark.createDataFrame(rows, "id long, g string").coalesce(1), path)
    tf.append_snapshot(
        spark.createDataFrame([(5, "en"), (6, "xx")], "id long, g string")
        .coalesce(1), path)
    # COW update: move id 2 from de -> en (delete+insert in the CDC)
    tf.merge_snapshot(
        spark, spark.createDataFrame([(2, "en")], "id long, g string"),
        path, "id")
    # MOR delete: removes de's last member (3) and fr's only member (4)
    tf.delete_keys(
        spark, spark.createDataFrame([(3,), (4,)], "id long"), path, "id")

    got = {r["g"]: r["n_rows"]
           for r in tf.incremental_mv(spark, path, "g").collect()}
    direct = {r["g"]: r["n"]
              for r in tf.read_table(spark, path).groupBy("g")
              .agg(F.count("*").alias("n")).collect()}
    assert got == direct == {"en": 4, "xx": 1}
    # both zeroed groups DROPPED from the view, not kept at 0: fr lost its
    # only member to the delete; de lost one member to the update's group
    # move and the other to the delete
    assert "fr" not in got and "de" not in got


def test_scan_table_applies_pending_mor_deletes(spark, tmp_path):
    """A zone-pruned scan must merge pending deletes exactly like
    read_table — pruning is an optimization, never a path around the
    delete files (the resurrection bug this pins)."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    for lo in (0, 100):
        tf.append_snapshot(
            spark.createDataFrame([(lo + i, f"v{lo + i}") for i in range(5)],
                                  "id long, v string").coalesce(1), path)
    tf.delete_keys(spark, spark.createDataFrame([(101,)], "id long"),
                   path, "id")
    df, n_read, n_total = tf.scan_table(spark, path,
                                        predicates=[("id", ">=", 100)])
    assert (n_read, n_total) == (1, 2)          # pruning still works
    assert {r["id"] for r in df.collect()} == {100, 102, 103, 104}


def test_hidden_partitioning_prunes_and_stays_correct(spark, tmp_path):
    """Iceberg-style hidden partitioning: the table declares TRANSFORMS
    (day(ts), bucket(n, col), truncate(w, col), identity) and the scan
    planner derives file elimination from predicates on the SOURCE columns
    — queries never mention a partition column.  Pins: exact prune counts
    on an engineered one-file-per-partition grid, inclusive widening of
    strict bounds at day granularity, the write-side bucket expression ==
    the planner's python twin, NULL partition handling, spec-conflict
    refusal, and that unpartitioned appends coexist (unpruned, correct)."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources import tableformat as tf

    # 6 days x 3 types, 4 rows per cell -> repartition(1) = 1 file/partition
    rows = [
        (d * 100 + t * 10 + i, f"2024-02-{d + 1:02d} 0{i}:30:00", f"type{t}")
        for d in range(6) for t in range(3) for i in range(4)
    ]
    df = (
        spark.createDataFrame(rows, "id long, ts_s string, kind string")
        .select("id", F.to_timestamp("ts_s").alias("ts"), "kind")
    )
    path = str(tmp_path / "ptbl")
    spec = [("day", "ts"), ("bucket", 2, "kind")]
    tf.partitioned_append(df.repartition(1), path, spec)
    # partition dirs are (day, BUCKET) — kinds sharing a bucket share a file
    nb = len({tf.bucket_of(f"type{t}", 2) for t in range(3)})
    meta = tf._read_version(path, tf.current_version(path))
    assert len(meta["all_files"]) == 6 * nb
    assert all(len(v) == 2 for v in meta["file_partitions"].values())

    # day-range pred: >= day 4 (2024-02-04) -> 3 days' partitions survive
    out, nr, nt = tf.scan_table(spark, path, [("ts", ">=", "2024-02-04 00:00:00")])
    assert (nr, nt) == (3 * nb, 6 * nb)
    assert out.count() == 3 * 3 * 4

    # STRICT > inside a day keeps that day's files (inclusive widening)
    out, nr, _ = tf.scan_table(spark, path, [("ts", ">", "2024-02-04 01:00:00")])
    assert nr == 3 * nb
    assert out.count() == df.where(F.col("ts") > "2024-02-04 01:00:00").count()

    # bucket equality: only kind=typeK's bucket survives; result exact
    out, nr, _ = tf.scan_table(spark, path, [("kind", "=", "type0")])
    assert nr == 6  # one bucket per day
    assert out.count() == 24 and out.where("kind <> 'type0'").count() == 0

    # write-side bucket expression == planner twin, for every kind
    _, expr = tf._transform_expr(("bucket", 2, "kind"))
    got = {r["kind"]: int(r["b"])
           for r in df.select("kind", expr.alias("b")).distinct().collect()}
    assert got == {f"type{t}": tf.bucket_of(f"type{t}", 2) for t in range(3)}

    # spec conflict refuses; identical spec appends fine
    import pytest as _pytest
    with _pytest.raises(ValueError, match="partitioned by"):
        tf.partitioned_append(df.limit(1), path, [("day", "ts")])
    tf.partitioned_append(df.limit(4).repartition(1), path, spec)

    # a PLAIN append coexists: its files have no tuple -> never pruned,
    # scan correctness unchanged
    tf.append_snapshot(df.where("id < 2").repartition(1), path)
    out, nr, nt = tf.scan_table(spark, path, [("ts", ">=", "2024-02-06 00:00:00")])
    base = df.where(F.col("ts") >= "2024-02-06 00:00:00")
    # 3 kind-files for day 6 + the re-appended limit(4) file (day-1 rows,
    # zone maps may drop it) + the plain file always read
    assert out.count() == base.count() + base.where("id < 2").count() \
        + base.limit(0).count() + df.limit(4).where(
            F.col("ts") >= "2024-02-06 00:00:00").count()

    # truncate + identity spec on a second table
    path2 = str(tmp_path / "ttbl")
    df2 = spark.createDataFrame(
        [(i, f"{'abcdef'[i % 6]}{'xyz'[i % 3]}tail{i}", i % 4)
         for i in range(48)],
        "id long, name string, grp long",
    )
    tf.partitioned_append(
        df2.repartition(1), path2, [("truncate", 2, "name"), ("identity", "grp")]
    )
    out, nr, nt = tf.scan_table(
        spark, path2, [("name", ">=", "dx"), ("grp", "=", 1)]
    )
    full = df2.where((F.col("name") >= "dx") & (F.col("grp") == 1))
    assert nr < nt and out.count() == full.count()
    assert out.exceptAll(full).count() == 0 and full.exceptAll(out).count() == 0

    # NULL source values land in the hive default partition: pruned for
    # any predicate on that column, still present in read_table
    path3 = str(tmp_path / "ntbl")
    dfn = df.withColumn(
        "ts", F.when(F.col("id") % 50 == 0, None).otherwise(F.col("ts"))
    )
    tf.partitioned_append(dfn.repartition(1), path3, [("day", "ts")])
    out, nr, nt = tf.scan_table(spark, path3, [("ts", ">=", "2024-02-01")])
    assert nr == nt - 1  # exactly the null-partition file eliminated
    assert out.count() == dfn.where(F.col("ts") >= "2024-02-01").count()
    assert tf.read_table(spark, path3).count() == dfn.count()


def test_hidden_partitioning_survives_maintenance(spark, tmp_path):
    """Partition metadata rides through every commit kind: MOR deletes keep
    all tuples (no files rewritten) and a pruned scan still hides deleted
    rows; purge keeps the UNTOUCHED files' tuples; a full compaction drops
    tuples (rewritten files are never partition-pruned) while scans stay
    correct — pruning degrades, correctness never does."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources import tableformat as tf

    rows = [(d * 10 + i, f"2024-03-{d + 1:02d} 00:0{i}:00")
            for d in range(4) for i in range(5)]
    df = (
        spark.createDataFrame(rows, "id long, ts_s string")
        .select("id", F.to_timestamp("ts_s").alias("ts"))
    )
    path = str(tmp_path / "mtbl")
    tf.partitioned_append(df.repartition(1), path, [("day", "ts")])

    # MOR delete: no rewrite -> every tuple survives; pruned scan hides keys
    tf.delete_keys(spark, df.where("id % 10 = 0").select("id"), path, "id")
    meta = tf._read_version(path, tf.current_version(path))
    assert len(meta["file_partitions"]) == 4
    out, nr, nt = tf.scan_table(spark, path, [("ts", ">=", "2024-03-03")])
    assert (nr, nt) == (2, 4)
    assert sorted(r["id"] for r in out.collect()) == [
        i for i in range(20, 40) if i % 10 and (i % 10) < 5
    ]

    # purge rewrites only AFFECTED files; untouched tuples remain
    tf.purge_deletes(spark, path)
    meta = tf._read_version(path, tf.current_version(path))
    assert meta["partition_spec"] == [["day", "ts"]]
    # every file carried a deleted key -> all rewritten -> no tuples is
    # also legal; the invariant is: tuples ⊆ live files, scan stays right
    assert set(meta["file_partitions"]) <= set(meta["all_files"])
    out, nr, nt = tf.scan_table(spark, path, [("ts", ">=", "2024-03-03")])
    assert out.where("id % 10 = 0").count() == 0

    # full compaction: tuples dropped, spec retained, scans correct
    tf.compact_table(spark, path, target_bytes=1 << 30)
    meta = tf._read_version(path, tf.current_version(path))
    assert meta["partition_spec"] == [["day", "ts"]] \
        and meta["file_partitions"] == {}
    out, nr, nt = tf.scan_table(spark, path, [("ts", ">=", "2024-03-03")])
    assert out.count() == df.where(
        (F.col("ts") >= "2024-03-03") & (F.col("id") % 10 != 0)
    ).count()


def test_host_neighborhood_exact_path_graph(spark):
    """Neighborhood function on an engineered directed path a->b->c->d
    plus isolated e: N(0)=5 self-pairs, then 3/2/1 new pairs at t=1/2/3;
    cumulative 5,8,10,11 -> basis points 4545,7272,9090,10000 with the
    90% crossing (is_eff_diameter) at exactly t=2; the BFS early-stops at
    the true diameter even with a larger horizon."""
    from pdf_parser_spark.operators.linkgraph import host_neighborhood

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long")
    urls = spark.createDataFrame(
        [(i, h) for i, h in enumerate("abcde")], "doc_id long, host string")
    rows = host_neighborhood(edges, urls, max_t=6).collect()
    got = [(r["t"], r["new_pairs"], r["n_pairs"], r["pct_bp"],
            r["is_eff_diameter"]) for r in rows]
    assert got == [
        (0, 5, 5, 4545, False),
        (1, 3, 8, 7272, False),
        (2, 2, 10, 9090, True),
        (3, 1, 11, 10000, False),
    ]


def test_shard_rebalance_hrw_moves_stateless_minimum(spark):
    """Growing 8 -> 10 shards: rendezvous hashing moves ~1 - 8/10 = 20% of
    keys (the stateless minimum), modulo placement ~80% (keys stay only
    when hash % lcm lands in the low 8 of 40 -> 8/40).  Pins the theory
    bands on 4000 engineered keys and that the audit is deterministic."""
    from pdf_parser_spark.operators.curation import shard_rebalance

    docs = spark.range(4000).withColumnRenamed("id", "doc_id")
    rows = {r["scheme"]: r for r in shard_rebalance(docs).collect()}
    assert rows["hrw"]["n_keys"] == rows["mod"]["n_keys"] == 4000
    assert 1700 <= rows["hrw"]["moved_bp"] <= 2300
    assert 7500 <= rows["mod"]["moved_bp"] <= 8500
    assert rows["hrw"]["n_moved"] < rows["mod"]["n_moved"]
    again = {r["scheme"]: r["n_moved"]
             for r in shard_rebalance(docs).collect()}
    assert again == {k: v["n_moved"] for k, v in rows.items()}


def test_append_token_exactly_once(spark, tmp_path):
    """Exactly-once append ledger: replaying a batch token returns the
    current version with NO new rows (a blind replay would double the
    batch), a fresh token commits, and the ledger survives intermediate
    commits of the other kinds — for both plain and hidden-partitioned
    appends."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources import tableformat as tf

    df = spark.range(100).withColumnRenamed("id", "doc_id")
    path = str(tmp_path / "tok")
    v1 = tf.append_snapshot(df, path, token="app:0")
    assert tf.append_snapshot(df, path, token="app:0") == v1
    assert tf.read_table(spark, path).count() == 100
    v2 = tf.append_snapshot(df.where("doc_id < 10"), path, token="app:1")
    assert v2 == v1 + 1 and tf.read_table(spark, path).count() == 110
    # a delete commit in between must not amnesia the append ledger:
    # the replayed token still skips (returns the CURRENT version, no
    # new rows beyond the delete's effect)
    vd = tf.delete_keys(spark, df.where("doc_id = 5").select("doc_id"),
                        path, "doc_id")["version"]
    n_after_delete = tf.read_table(spark, path).count()
    assert n_after_delete == 108  # doc_id=5 existed twice (v1 + v2)
    assert tf.append_snapshot(df, path, token="app:0") == vd
    assert tf.read_table(spark, path).count() == n_after_delete

    path2 = str(tmp_path / "ptok")
    spec = [("identity", "grp")]
    dfp = df.withColumn("grp", F.col("doc_id") % 3)
    vp = tf.partitioned_append(dfp, path2, spec, token="p:0")
    assert tf.partitioned_append(dfp, path2, spec, token="p:0") == vp
    assert tf.read_table(spark, path2).count() == 100


def test_wap_stage_audit_publish(spark, tmp_path):
    """Write-audit-publish lifecycle: a staged snapshot is invisible to
    every reader, read_staged previews parent+staged, abort orphans the
    files (collected by GC — while PENDING stages are GC-protected),
    publish rebases over a concurrent append, and a replayed publish
    no-ops via the wap token ledger even after a crash that lost the
    cleanup."""
    import os
    import shutil

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "wap")
    base = spark.range(10).withColumnRenamed("id", "doc_id")
    v1 = tf.append_snapshot(base.coalesce(1), path)

    staged = spark.range(10, 20).withColumnRenamed("id", "doc_id")
    wap = tf.stage_append(staged.coalesce(1), path)
    # invisible to the main timeline; preview sees the would-be table
    assert tf.current_version(path) == v1
    assert tf.read_table(spark, path).count() == 10
    assert tf.read_staged(spark, path, wap).count() == 20
    # pending stage survives GC; its files exist
    st_files = tf.list_staged(path)[0]["files"]
    assert tf.expire_snapshots(path, keep_from=1, min_age_s=0) == []
    assert all(os.path.exists(f) for f in st_files)

    # a concurrent append lands between stage and publish -> rebase
    tf.append_snapshot(
        spark.range(20, 25).withColumnRenamed("id", "doc_id").coalesce(1),
        path,
    )
    # keep a copy of the staged manifest to simulate the crash replay
    sp = os.path.join(path, "metadata", f"staged-{wap}.json")
    shutil.copy(sp, sp + ".bak")
    v = tf.publish_staged(path, wap)
    got = sorted(r["doc_id"] for r in tf.read_table(spark, path).collect())
    assert got == list(range(25))  # concurrent append kept, staged rows in
    assert tf.publish_staged(path, wap) == v  # double publish: ledger no-op
    # crash between commit and cleanup: staged file still on disk, replay
    # must skip the commit AND clean the manifest up
    shutil.move(sp + ".bak", sp)
    assert tf.publish_staged(path, wap) == v
    assert not os.path.exists(sp)
    assert tf.read_table(spark, path).count() == 25

    # abort: audit fails -> manifest gone, files orphan, GC collects them
    wap2 = tf.stage_append(
        spark.range(90, 95).withColumnRenamed("id", "doc_id").coalesce(1),
        path,
    )
    orphans = tf.abort_staged(path, wap2)
    assert tf.list_staged(path) == []
    deleted = tf.expire_snapshots(path, keep_from=tf.current_version(path),
                                  min_age_s=0)
    assert set(orphans) <= set(deleted)
    assert tf.read_table(spark, path).count() == 25


def test_wap_schema_evolution_and_mor_sequence(spark, tmp_path):
    """Staged publish carries add-column evolution (pre-stage files
    backfill NULL), and a MOR delete committed BETWEEN stage and publish
    does not reach into the staged batch (publish sequences the staged
    files above it) — read_staged previews the same rule."""
    from pyspark.sql import functions as F

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "wapse")
    tf.append_snapshot(
        spark.range(5).withColumnRenamed("id", "doc_id").coalesce(1), path
    )
    wap = tf.stage_append(
        spark.range(5, 8).withColumnRenamed("id", "doc_id")
        .withColumn("lang", F.lit("en")).coalesce(1),
        path,
    )
    # delete doc_id=2 (hits v1) and doc_id=6 (staged: must NOT hit —
    # the delete's sequence is older than the published stage's)
    tf.delete_keys(
        spark,
        spark.createDataFrame([(2,), (6,)], "doc_id long"),
        path, "doc_id",
    )
    pre = tf.read_staged(spark, path, wap)
    assert sorted(r["doc_id"] for r in pre.collect()) == [0, 1, 3, 4, 5, 6, 7]
    tf.publish_staged(path, wap)
    rows = {r["doc_id"]: r["lang"] for r in tf.read_table(spark, path).collect()}
    assert sorted(rows) == [0, 1, 3, 4, 5, 6, 7]
    assert rows[6] == "en" and rows[0] is None  # NULL backfill pre-stage


def test_gated_ingest_rejects_and_replays(spark, tmp_path):
    """Gated streaming sink: the poisoned micro-batch stages, fails its
    audit, aborts (no version, files fall to GC); clean batches publish;
    a replayed published batch re-stages under a FRESH wap_id but the
    caller token recognizes it and skips — and the replay's own staged
    manifest is cleaned up rather than left pending."""
    import os

    from pdf_parser_spark.sources import tableformat as tf
    from pdf_parser_spark.streaming.pipeline import stream_gated_ingest

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    clean = spark.range(10).withColumnRenamed("id", "doc_id") \
        .withColumn("ok", F.lit(True))
    bad = spark.range(10, 15).withColumnRenamed("id", "doc_id") \
        .withColumn("ok", F.lit(False))
    for name, df in (("b0", clean), ("b1", bad)):
        tmp = str(tmp_path / name)
        df.coalesce(1).write.parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp, f),
                          os.path.join(in_dir, f"{name}.parquet"))
    tbl = str(tmp_path / "tbl")
    q = stream_gated_ingest(
        spark, in_dir, tbl, str(tmp_path / "ckpt"), clean.schema,
        lambda staged: staged.where(~F.col("ok")).count() == 0,
        app_id="g",
    )
    q.processAllAvailable()
    q.stop()
    assert tf.current_version(tbl) == 1  # only the clean batch published
    assert tf.list_staged(tbl) == []     # the rejected stage was aborted
    got = sorted(r["doc_id"] for r in tf.read_table(spark, tbl).collect())
    assert got == list(range(10))
    # replay of the published batch: fresh stage, same token -> skip+clean
    wap = tf.stage_append(clean.coalesce(1), tbl)
    assert tf.publish_staged(tbl, wap, token="g:0") == 1
    assert tf.list_staged(tbl) == []
    assert tf.read_table(spark, tbl).count() == 10
    # the rejected and replayed stages' files are orphans: GC takes them
    deleted = tf.expire_snapshots(tbl, keep_from=1, min_age_s=0)
    assert len(deleted) >= 2
    assert tf.read_table(spark, tbl).count() == 10


def test_overwrite_snapshot_replaces_whole_content(spark, tmp_path):
    """overwrite_snapshot: new version lists ONLY the new files (older
    versions time-travel intact), schema is replaced not merged, the
    token ledger skips replays, and pending MOR deletes are refused."""
    import pytest

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "ow")
    tf.append_snapshot(
        spark.range(10).withColumnRenamed("id", "doc_id")
        .withColumn("extra", F.lit("x")).coalesce(1), path)
    v = tf.overwrite_snapshot(
        spark.range(3).withColumnRenamed("id", "doc_id").coalesce(1),
        path, token="r:0")
    assert v == 2
    assert tf.read_table(spark, path).columns == ["doc_id"]  # replaced
    assert tf.read_table(spark, path).count() == 3
    assert tf.read_table(spark, path, version=1).count() == 10  # travel
    assert tf.overwrite_snapshot(
        spark.range(99).withColumnRenamed("id", "doc_id"), path, token="r:0"
    ) == 2  # ledger skip, lazy plan never evaluated
    assert tf.read_table(spark, path).count() == 3
    tf.delete_keys(spark, spark.createDataFrame([(1,)], "doc_id long"),
                   path, "doc_id")
    with pytest.raises(RuntimeError, match="deletes pending"):
        tf.overwrite_snapshot(
            spark.range(1).withColumnRenamed("id", "doc_id"), path)


def test_stream_mv_maintain_group_moves_and_crash_window(spark, tmp_path):
    """Streaming MV fold: an update batch that moves EVERY row of a
    group zeroes and drops it; and the crash window between the MV
    commit and the base merge converges on replay (the -1 side is
    recomputed from the still-unmerged base, the ledger skips the fold,
    the merge completes) — the commit-order argument, executed."""
    import os
    import shutil

    from pdf_parser_spark.sources import tableformat as tf
    from pdf_parser_spark.streaming.pipeline import stream_mv_maintain

    in_dir = str(tmp_path / "in")
    os.makedirs(in_dir)
    mk = lambda lo, hi, g: (
        spark.range(lo, hi).withColumnRenamed("id", "doc_id")
        .withColumn("grp", F.lit(g))
    )
    batches = [mk(0, 10, "a"), mk(10, 15, "b"), mk(0, 10, "c")]
    for i, b in enumerate(batches):
        tmp = str(tmp_path / f"s{i}")
        b.coalesce(1).write.parquet(tmp)
        for f in os.listdir(tmp):
            if f.endswith(".parquet"):
                os.rename(os.path.join(tmp, f),
                          os.path.join(in_dir, f"b{i}.parquet"))
    base, mv = str(tmp_path / "base"), str(tmp_path / "mv")
    q = stream_mv_maintain(
        spark, in_dir, base, mv, str(tmp_path / "ckpt"),
        batches[0].schema, key="doc_id", group_col="grp",
    )
    q.processAllAvailable()
    q.stop()
    got = {r["grp"]: r["n_rows"] for r in tf.read_table(spark, mv).collect()}
    assert got == {"b": 5, "c": 10}  # group a zeroed by the move -> dropped
    assert tf.current_version(base) == 3

    # crash window: batch 3 (keys 12-14 move b->d) folds the MV, then
    # "crashes" before the merge; the replay must converge
    upd = mk(12, 15, "d")
    old = (tf.read_table(spark, base)
           .join(F.broadcast(upd.select("doc_id")), "doc_id", "left_semi")
           .groupBy("grp").agg(F.sum(F.lit(-1).cast("long")).alias("n_rows")))
    fold = (tf.read_table(spark, mv)
            .unionByName(upd.groupBy("grp").agg(
                F.count("*").cast("long").alias("n_rows")))
            .unionByName(old)
            .groupBy("grp").agg(F.sum("n_rows").cast("long").alias("n_rows"))
            .where(F.col("n_rows") > 0))
    tf.overwrite_snapshot(fold, mv, token="mv:3")
    # -- crash here: base merge never ran.  Replay recomputes the -1
    # side from the STILL-unmerged base (identical), the ledger skips
    # the fold, and the merge completes:
    old2 = (tf.read_table(spark, base)
            .join(F.broadcast(upd.select("doc_id")), "doc_id", "left_semi")
            .groupBy("grp").agg(F.sum(F.lit(-1).cast("long")).alias("n_rows")))
    fold2 = (tf.read_table(spark, mv)
             .unionByName(upd.groupBy("grp").agg(
                 F.count("*").cast("long").alias("n_rows")))
             .unionByName(old2)
             .groupBy("grp").agg(F.sum("n_rows").cast("long").alias("n_rows"))
             .where(F.col("n_rows") > 0))
    assert tf.overwrite_snapshot(fold2, mv, token="mv:3") == 4  # skip
    tf.merge_snapshot(spark, upd, base, "doc_id")
    got = {r["grp"]: r["n_rows"] for r in tf.read_table(spark, mv).collect()}
    want = (tf.read_table(spark, base).groupBy("grp")
            .agg(F.count("*").cast("long").alias("n_rows")).collect())
    assert got == {r["grp"]: r["n_rows"] for r in want} == \
        {"b": 2, "c": 10, "d": 3}


def test_host_harmonic_exact_path_graph(spark):
    """Harmonic centrality on the same engineered path a->b->c->d plus
    isolated e, INCOMING distances in exact micro-units: H(a)=0 (nothing
    reaches it), H(b)=1/1, H(c)=1/1+1/2, H(d)=1/1+1/2+1/3 (floored),
    H(e)=0 — and the isolated host still surfaces with zeros."""
    from pdf_parser_spark.operators.linkgraph import host_harmonic

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "src long, dst long")
    urls = spark.createDataFrame(
        [(i, h) for i, h in enumerate("abcde")], "doc_id long, host string")
    got = {r["host"]: (r["n_sources"], r["h_micro"])
           for r in host_harmonic(edges, urls, max_t=6).collect()}
    assert got == {
        "a": (0, 0),
        "b": (1, 1_000_000),
        "c": (2, 1_500_000),
        "d": (3, 1_833_333),
        "e": (0, 0),
    }


def test_position_delete_addresses_physical_rows(spark, tmp_path):
    """Position deletes (kind='pos') pin: zero data files touched at
    commit; ONE of two byte-identical rows can be dropped (impossible
    with equality deletes); the same ordinal in another file survives;
    time travel reads undeleted; a later append of identical content
    survives (new file, no position names it); token replay skips;
    purge rewrites exactly the recorded target files hash-identically;
    GC protects the pending delete file."""
    import os

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    tf.append_snapshot(
        spark.createDataFrame(
            [(1, "a"), (1, "a"), (2, "b")], "id long, v string"
        ).coalesce(1), path)
    tf.append_snapshot(
        spark.createDataFrame(
            [(3, "c"), (4, "d"), (5, "e")], "id long, v string"
        ).coalesce(1), path)
    meta = tf._read_version(path, 2)
    f1, f2 = meta["all_files"]  # append order
    pos = spark.createDataFrame(
        [(f1, 0), (f2, 1)], "file string, pos long")
    info = tf.delete_positions(spark, pos, path, token="mrg:1")
    assert info == {"version": 3, "n_delete_files": 1, "n_targets": 2,
                    "skipped": False}
    meta3 = tf._read_version(path, 3)
    assert meta3["all_files"] == meta["all_files"]  # no data file touched
    assert meta3["delete_files"][0]["kind"] == "pos"
    assert sorted(meta3["delete_files"][0]["targets"]) == sorted([f1, f2])

    # exactly one of the two identical (1,'a') rows is gone; pos 1 of f1
    # and pos 0/2 of f2 survive
    got = sorted((r["id"], r["v"])
                 for r in tf.read_table(spark, path).collect())
    assert got == [(1, "a"), (2, "b"), (3, "c"), (5, "e")]
    # time travel below the delete is undeleted
    assert len(tf.read_table(spark, path, version=2).collect()) == 6
    # replayed commit skips under the token
    assert tf.delete_positions(spark, pos, path, token="mrg:1")["skipped"]
    # identical content appended later lands in a new file and survives
    tf.append_snapshot(
        spark.createDataFrame([(4, "d")], "id long, v string").coalesce(1),
        path)
    assert sorted(r["id"] for r in tf.read_table(spark, path).collect()) \
        == [1, 2, 3, 4, 5]
    # GC never collects the pending pos-delete file
    dfile = meta3["delete_files"][0]["file"]
    deleted = tf.expire_snapshots(path, keep_from=4, min_age_s=0)
    assert dfile not in deleted and os.path.exists(dfile)
    # purge: rewrites exactly the two target files, view unchanged
    p = tf.purge_deletes(spark, path)
    assert p["n_files_rewritten"] == 2 and p["n_files_untouched"] == 1
    assert sorted((r["id"], r["v"])
                  for r in tf.read_table(spark, path).collect()) \
        == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]
    assert tf._read_version(path, tf.current_version(path))["delete_files"] \
        == []


def test_branch_tag_refs_lifecycle(spark, tmp_path):
    """Refs pin: branch commits invisible to main; tag = time travel by
    name, surviving GC below keep_from (refs override retention, and the
    tagged files stay on disk); fast-forward is metadata-only,
    exactly-once under its token, and REFUSES when main advanced past
    the fork; duplicate ref names refuse; dropped branch files orphan
    into age-guarded GC."""
    import os

    import pytest as _pytest

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, v string"
    ).coalesce(1)
    tf.append_snapshot(mk(0, 3), path)               # main v1
    tf.create_tag(path, "rel-1")                     # pins v1
    with _pytest.raises(ValueError, match="already exists"):
        tf.create_tag(path, "rel-1")
    with _pytest.raises(ValueError, match="does not exist"):
        tf.create_branch(path, "b", version=9)
    tf.create_branch(path, "audit")                  # forks at v1
    tf.branch_append(mk(3, 6), path, "audit")        # branch v2
    # invisibility + branch read
    assert sorted(r["id"] for r in tf.read_table(spark, path).collect()) \
        == [0, 1, 2]
    assert sorted(r["id"]
                  for r in tf.read_ref_table(spark, path, "audit").collect()) \
        == [0, 1, 2, 3, 4, 5]
    # main advances past the fork -> ff refuses
    tf.append_snapshot(mk(100, 101), path)           # main v2
    with _pytest.raises(RuntimeError, match="not a fast-forward"):
        tf.fast_forward(path, "audit")
    # re-branch from the new head and publish that one
    tf.create_branch(path, "audit2")                 # forks at v2
    tf.branch_append(mk(6, 8), path, "audit2")
    ff = tf.fast_forward(path, "audit2", token="ff:a2")
    assert ff == {"version": 3, "skipped": False, "n_published": 1}
    assert tf.fast_forward(path, "audit2", token="ff:a2")["skipped"]
    assert sorted(r["id"] for r in tf.read_table(spark, path).collect()) \
        == [0, 1, 2, 6, 7, 100]
    # renumbered seq: a delete now hits the branch-added rows
    tf.delete_keys(spark, spark.createDataFrame([(7,)], "id long"),
                   path, "id")
    assert 7 not in {r["id"] for r in tf.read_table(spark, path).collect()}
    # GC with keep_from above the tag: tagged v1 survives with its files
    tagged_files = set(tf._read_version(path, 1)["all_files"])
    tf.expire_snapshots(path, keep_from=3, min_age_s=0)
    assert sorted(r["id"]
                  for r in tf.read_ref_table(spark, path, "rel-1").collect()) \
        == [0, 1, 2]
    assert all(os.path.exists(f) for f in tagged_files)
    # the abandoned first branch still protects its files; dropping it
    # orphans them into collection
    b1_files = set(tf._branch_head(path, "audit")[1]["all_files"])
    kept = b1_files - tagged_files
    tf.drop_ref(path, "audit")
    deleted = set(tf.expire_snapshots(path, keep_from=3, min_age_s=0))
    assert kept <= deleted


def test_table_dedup_inplace_lifecycle(spark, tmp_path):
    """Dedup maintenance on the table: election names the non-min copies,
    the MOR delete commit touches zero data files, purge compacts, and
    only min-id keepers survive — including a whitespace-variant pair
    that the normalized fingerprint must unify."""
    from pdf_parser_spark.operators.dedup import exact_dedup_groups
    from pdf_parser_spark.sources import tableformat as tf
    from pyspark.sql import functions as F

    path = str(tmp_path / "tbl")
    rows = [(1, "alpha beta"), (2, "other text"), (5, "alpha  BETA "),
            (9, "alpha beta")]
    tf.append_snapshot(
        spark.createDataFrame(rows[:2], "doc_id long, text string")
        .coalesce(1), path)
    tf.append_snapshot(
        spark.createDataFrame(rows[2:], "doc_id long, text string")
        .coalesce(1), path)
    live = tf.read_table(spark, path)
    groups = exact_dedup_groups(live)
    fp = F.md5(F.lower(F.regexp_replace(F.trim(F.col("text")), r"\s+", " ")))
    losers = (
        live.select(fp.alias("fp"), "doc_id")
        .join(groups.where(F.col("n_docs") > 1), "fp")
        .where(F.col("doc_id") != F.col("keep_doc_id"))
        .select("doc_id")
    )
    info = tf.delete_keys(spark, losers, path, "doc_id")
    meta = tf._read_version(path, info["version"])
    assert meta["all_files"] == tf._read_version(path, 2)["all_files"]
    tf.purge_deletes(spark, path)
    assert sorted(r["doc_id"] for r in tf.read_table(spark, path).collect()) \
        == [1, 2]  # 5 (normalized dup) and 9 (exact dup) deleted


def test_w8_attribution_rules(spark, tmp_path):
    """Attribution pins on an engineered event stream: last touch wins
    over earlier ones, error never attributes, outside-lookback falls to
    direct, ts ties break by event_id, and a purchase can itself be a
    later purchase's non-touch (purchases never attribute)."""
    import datetime as dt

    from pdf_parser_spark.plans import relational as R

    t0 = dt.datetime(2024, 1, 1)
    s = lambda off: t0 + dt.timedelta(seconds=off)
    rows = [
        # user 1: view then click then purchase -> click (last touch)
        (1, s(0), 1, "view", 10.0, "{}"),
        (2, s(10), 1, "click", 10.0, "{}"),
        (3, s(20), 1, "purchase", 25.0, "{}"),
        # user 2: touch outside the 3600s lookback -> direct
        (4, s(0), 2, "click", 1.0, "{}"),
        (5, s(4000), 2, "purchase", 5.0, "{}"),
        # user 3: error is never a touch -> direct
        (6, s(0), 3, "error", 1.0, "{}"),
        (7, s(5), 3, "purchase", 5.0, "{}"),
        # user 4: ts tie -> higher event_id is the later touch
        (8, s(0), 4, "view", 1.0, "{}"),
        (9, s(0), 4, "click", 1.0, "{}"),
        (10, s(1), 4, "purchase", 5.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    df.write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["event_id"]: r
           for r in R.w8_attribution(spark, str(tmp_path)).collect()}
    assert (out[3]["touch_type"], out[3]["touch_event_id"],
            out[3]["gap_s"]) == ("click", 2, 10)
    assert out[3]["value_cents"] == 2500
    assert out[5]["touch_type"] == "direct" and out[5]["gap_s"] == -1
    assert out[7]["touch_type"] == "direct"
    assert (out[10]["touch_type"], out[10]["touch_event_id"]) == ("click", 9)


def test_streaming_attribution_cross_batch_carry(spark, tmp_path):
    """The stateful stream's reason to exist: a purchase in batch 1
    attributes to a touch from batch 0 (state carry), a too-old carried
    touch yields direct, and error never replaces the carried touch."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.attribution import stream_attribution

    t0 = dt.datetime(2024, 1, 1)

    def write_batch(path, rows):  # (event_id, off_s, user, type, value)
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=r[1]) for r in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([float(r[4]) for r in rows], pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_batch(str(in_dir / "b0.parquet"), [
        (1, 0, 1, "click", 1.0),     # user 1's touch, batch 0
        (2, 0, 2, "view", 1.0),      # user 2's touch, far in the past
    ])
    q = stream_attribution(spark, str(in_dir), str(tmp_path / "ckpt"),
                           "attr_test")
    q.processAllAvailable()
    write_batch(str(in_dir / "b1.parquet"), [
        (3, 30, 1, "error", 1.0),    # must NOT replace user 1's click
        (4, 60, 1, "purchase", 2.5),
        (5, 5000, 2, "purchase", 3.0),  # carried view is past lookback
    ])
    q.processAllAvailable()
    q.stop()
    out = {r["event_id"]: r for r in spark.table("attr_test").collect()}
    assert (out[4]["touch_type"], out[4]["touch_event_id"],
            out[4]["gap_s"]) == ("click", 1, 60)
    assert out[4]["value_cents"] == 250
    assert out[5]["touch_type"] == "direct" and out[5]["gap_s"] == -1


def test_streaming_trending_decay_carry(spark, tmp_path):
    """The decay fold's cross-batch carry: a batch-1 window resumes from
    batch 0's standing (floor-shift per elapsed window), a same-window
    continuation folds at gap 0, a strictly-late window is dropped, and
    a >clamp silence zeroes the carry."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.trending import stream_trending

    t0 = dt.datetime(2024, 1, 1)  # epoch 1704067200 = 473352 * 3600
    W = 473352

    def write_batch(path, rows):  # (event_id, off_s, type)
        pq.write_table(pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=r[1]) for r in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[2] for r in rows], pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    eid = iter(range(1000))
    write_batch(str(in_dir / "b0.parquet"),
                [(next(eid), 10 * i, "click") for i in range(8)]
                + [(next(eid), 10 * i, "view") for i in range(4)]
                + [(next(eid), 10 * i, "signup") for i in range(5)])
    q = stream_trending(spark, str(in_dir), str(tmp_path / "ckpt"),
                        "trend_test")
    q.processAllAvailable()
    write_batch(str(in_dir / "b1.parquet"),
                # click: gap-2 window (8>>2 + 2 = 4), then gap-1 (4>>1+1=3)
                [(next(eid), 7200 + 10 * i, "click") for i in range(2)]
                + [(next(eid), 10800, "click")]
                # click: strictly-late window (before state) must drop
                + [(next(eid), -3600, "click")]
                # view: same-window continuation, gap 0: 4 + 1 = 5
                + [(next(eid), 20, "view")]
                # signup: 63-window silence (gap 63 > clamp 62) ->
                # carry zeroed, decayed = count = 1
                + [(next(eid), 63 * 3600, "signup")])
    q.processAllAvailable()
    q.stop()
    rows = spark.table("trend_test").collect()
    got = {}
    for r in rows:
        got.setdefault((r["event_type"], r["win"]), []).append(
            (r["n_events"], r["decayed"]))
    assert got[("click", W)] == [(8, 8)]
    assert got[("click", W + 2)] == [(2, 4)]
    assert got[("click", W + 3)] == [(1, 3)]
    assert ("click", W - 1) not in got          # late window dropped
    assert got[("view", W)] == [(4, 4), (1, 5)]  # gap-0 continuation
    assert got[("signup", W + 63)] == [(1, 1)]   # clamp zeroed the carry


def test_pdf_layout_parser_core():
    """Byte-level PDF parse pins: Flate and plain streams produce the
    SAME layout, string escapes round-trip, Td accumulates relative to
    the line origin within a text object, a decoy 'N 0 obj' INSIDE a
    stream cannot confuse the xref-driven walk, and block segmentation
    breaks on both the vertical gap and the font-size change."""
    from pdf_parser_spark.core import pdflayout as core
    from pdf_parser_spark.operators import pdflayout as op

    # flate (even) vs plain (odd) at the same geometry params: doc_ids 4
    # and 9 share (k1, k2) per page only if (d+p)%3 and %2 agree — use
    # the same doc twice by patching parity via direct make calls
    plain = core.parse_layout(op.make_pdf(5))
    assert plain, "plain stream parsed"
    flate = core.parse_layout(op.make_pdf(4))
    assert flate, "flate stream parsed"
    # structure: heading block 0 (is_heading), body blocks 1 and 2
    assert plain[0]["is_heading"] and plain[0]["font_tenths"] == 180
    assert {r["block_id"] for r in plain if r["page_no"] == 0} == {0, 1, 2}
    assert not any(r["is_heading"] for r in plain if r["block_id"] > 0)
    # escape round-trip: parens in the body text survive
    assert any("(para one)" in r["text"] for r in plain)

    # hand-built single-stream PDF exercising Td ACCUMULATION and an
    # embedded decoy object header inside the content stream
    content = (b"BT /F1 12 Tf 72 700 Td (A 5 0 obj decoy) Tj "
               b"0 -20 Td (B) Tj 10 -20 Td (C) Tj ET")
    data = _mini_pdf(content)
    rows = core.parse_layout(data)
    assert [r["text"] for r in rows] == ["A 5 0 obj decoy", "B", "C"]
    assert [r["y_tenths"] for r in rows] == [7000, 6800, 6600]
    # uniform font + uniform leading => one block, line ids advance
    assert [r["block_id"] for r in rows] == [0, 0, 0]
    assert [r["line_id"] for r in rows] == [0, 1, 2]

    # corrupt bytes fail soft to zero rows
    assert core.parse_layout(b"%PDF-1.4\nnothing here") == []

    # same content compressed: identical layout to the plain form
    rows_z = core.parse_layout(_mini_pdf(content, flate=True))
    assert rows_z == rows


def _mini_pdf(content: bytes, flate: bool = False) -> bytes:
    """One-page PDF around `content` with a correct xref table."""
    import zlib

    if flate:
        body, filt = zlib.compress(content), b" /Filter /FlateDecode"
    else:
        body, filt = content, b""
    out = bytearray(b"%PDF-1.4\n")
    offs = {}

    def obj(num, b):
        offs[num] = len(out)
        out.extend(b"%d 0 obj\n" % num + b + b"\nendobj\n")

    obj(1, b"<< /Type /Catalog /Pages 2 0 R >>")
    obj(2, b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>")
    obj(3, b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>")
    obj(4, b"<< /Length %d%s >>\nstream\n" % (len(body), filt)
        + body + b"\nendstream")
    xref_at = len(out)
    out.extend(b"xref\n0 5\n0000000000 65535 f \n")
    for n in range(1, 5):
        out.extend(b"%010d 00000 n \n" % offs[n])
    out.extend(b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
               % xref_at)
    return bytes(out)


def test_pdf_scanned_audit_threshold(spark):
    """The reference's detect_scanned rule made fail-soft: fully
    number-only docs flag scanned, a half-scanned doc (50% sparse) stays
    BELOW the 80% threshold, real docs pass, and corrupt bytes land in
    the reject lane with n_pages 0 instead of raising."""
    from pdf_parser_spark.operators import pdflayout as pl

    # doc 7: %6==1 fully scanned (one page, 7%4==3); doc 9: %6==3
    # half-scanned; doc 2: real; doc 13: corrupt
    docs = spark.createDataFrame([(7,), (9,), (2,), (13,)], "doc_id long")
    out = {r["doc_id"]: r for r in pl.pdf_scanned_audit(
        pl.synthetic_scan_pdfs(docs)).collect()}
    assert out[7]["scanned"] and out[7]["sparse_bp"] == 10000
    assert out[7]["n_pages"] == 1 and out[7]["n_sparse_pages"] == 1
    assert not out[9]["scanned"] and out[9]["sparse_bp"] == 5000
    assert not out[2]["scanned"] and out[2]["n_sparse_pages"] == 0
    assert out[13]["scanned"] and out[13]["n_pages"] == 0


def test_pdf_scanned_audit_strict_boundary_and_zero_run_pages(spark):
    """The two r4-advice boundary holes, pinned: (a) the reference's
    detect_scanned comparison is STRICT — a 5-page doc with exactly 4
    sparse pages (8000 bp) is ACCEPTED, 5-of-5 rejects; (b) a parsed
    page whose content stream yields ZERO text runs must count as a
    0-char sparse page, not vanish from n_pages."""
    from pdf_parser_spark.operators import pdflayout as pl

    real = b"BT /F1 10 Tf 72 700 Td (%s) Tj ET" % (b"word " * 20)
    sparse = b"BT /F1 8 Tf 300 30 Td (1) Tj ET"
    import pandas as pd_

    def media(pages_by_doc):
        return spark.createDataFrame(pd_.DataFrame({
            "doc_id": list(pages_by_doc),
            "payload": [pl.assemble_pdf(p) for p in pages_by_doc.values()],
        }))

    out = {r["doc_id"]: r for r in pl.pdf_scanned_audit(media({
        # exactly 80% sparse: boundary, must NOT flag
        0: [real] + [sparse] * 4,
        # 100% sparse: must flag
        1: [sparse] * 5,
        # zero-run page (no text operators at all): counts sparse, so
        # 1 real + 1 empty = 50% -> not scanned, but n_pages must be 2
        2: [real, b"% image-only page, no BT/Tj"],
        # 1 real + 4 zero-run = 80% boundary again via empty pages
        3: [real] + [b""] * 4,
        # 5 zero-run pages: 100% sparse without a single text run
        4: [b""] * 5,
    })).collect()}
    assert out[0]["sparse_bp"] == 8000 and not out[0]["scanned"]
    assert out[0]["n_pages"] == 5 and out[0]["n_sparse_pages"] == 4
    assert out[1]["scanned"] and out[1]["sparse_bp"] == 10000
    assert out[2]["n_pages"] == 2 and out[2]["n_sparse_pages"] == 1
    assert out[2]["sparse_bp"] == 5000 and not out[2]["scanned"]
    assert out[3]["sparse_bp"] == 8000 and not out[3]["scanned"]
    assert out[4]["n_pages"] == 5 and out[4]["scanned"]


def test_pdf_tables_bands_and_ragged_cols():
    """Band semantics: a single-run prose line breaks the table; a
    ragged row keeps column RANKS (a missing middle cell leaves col 2 at
    col 2, not col 1); x accumulates across horizontal Td hops.  The
    page carries a financial-hint line (and no rulings), so these bands
    come out of the reference's hint-gated text-strategy retry."""
    from pdf_parser_spark.core.pdflayout import parse_tables

    content = (
        b"BT /F1 10 Tf 72 620 Td (Total assets at year end) Tj ET\n"
        b"BT /F1 10 Tf 72 600 Td (r0c0) Tj 90 0 Td (r0c1) Tj"
        b" 90 0 Td (r0c2) Tj ET\n"
        # ragged row: skips the middle column (x jumps 180)
        b"BT /F1 10 Tf 72 580 Td (r1c0) Tj 180 0 Td (r1c2) Tj ET\n"
        b"BT /F1 10 Tf 72 560 Td (prose only line) Tj ET\n"
        b"BT /F1 10 Tf 72 540 Td (t2a) Tj 90 0 Td (t2b) Tj ET\n"
    )
    rows = parse_tables(_mini_pdf(content))
    t0 = [(r["row"], r["col"], r["text"]) for r in rows
          if r["table_id"] == 0]
    assert t0 == [(0, 0, "r0c0"), (0, 1, "r0c1"), (0, 2, "r0c2"),
                  (1, 0, "r1c0"), (1, 2, "r1c2")]
    t1 = [(r["row"], r["col"], r["text"]) for r in rows
          if r["table_id"] == 1]
    assert t1 == [(0, 0, "t2a"), (0, 1, "t2b")]
    assert all(r["text"] != "prose only line" for r in rows)


def test_pdf_text_ops_tj_tm_and_leading():
    """The r4-verdict operator gaps, closed and pinned: TJ arrays join
    string parts into ONE run with a space only at kerns <=
    -TJ_SPACE_MILLIEMS; Tm sets the ABSOLUTE line origin and its d
    component scales the effective font size; TD sets leading, T* and
    ' advance by it."""
    from pdf_parser_spark.core.pdflayout import _runs

    s = (b"BT /F1 12 Tf 1 0 0 1 72 700 Tm"
         b" [(Hel) -40 (lo) -250 (world) 30 (!)] TJ ET\n"
         b"BT /F1 10 Tf 72 650 Td 14 TL (one) Tj T* (two) Tj (three) ' ET\n"
         b"BT /F1 8 Tf 10 20 Td 5 -12 TD (a) Tj T* (b) Tj ET\n"
         b"BT /F1 6 Tf 2 0 0 2 50 100 Tm (double) Tj ET")
    runs = _runs(s)
    assert runs[0] == (72.0, 700.0, 12.0, "Hello world!")
    assert [(r[1], r[3]) for r in runs[1:4]] == [
        (650.0, "one"), (636.0, "two"), (622.0, "three")]
    # TD leading -(-12)=12: T* drops y by 12 from the Td-translated origin
    assert [(r[0], r[1], r[3]) for r in runs[4:6]] == [
        (15.0, 8.0, "a"), (15.0, -4.0, "b")]
    assert runs[6] == (50.0, 100.0, 12.0, "double")  # 6 x |d|=2


def test_pdf_ruled_table_strategy_and_hint_gating():
    """The reference's two-strategy policy, byte-level: painted rulings
    are the PRIMARY strategy (multi-run cells join, empty grid cells are
    absent, runs outside the grid are not cells); with no rulings the
    text-band retry fires ONLY on a financially-hinted page (hint read in
    reading order) — an unhinted unruled page yields no tables at all.
    Runs on the grid's bottom/right rulings and negative-extent `re`
    rectangles are part of the grid."""
    from pdf_parser_spark.core.pdflayout import parse_tables, table_strategy

    grid = (
        b"68 604 m 248 604 l S 68 584 m 248 584 l S 68 564 m 248 564 l S "
        b"68 564 m 68 604 l S 158 564 m 158 604 l S 248 564 m 248 604 l S\n"
    )
    cells = (
        b"BT /F1 10 Tf 72 600 Td (alpha) Tj 20 0 Td (beta) Tj"
        b" 90 0 Td (gamma) Tj ET\n"           # alpha+beta share cell (0,0)
        b"BT /F1 10 Tf 162 580 Td (delta) Tj ET\n"   # (1,1); (1,0) EMPTY
        b"BT /F1 10 Tf 72 500 Td (outside the grid) Tj ET\n"
    )
    rows = parse_tables(_mini_pdf(grid + cells))
    got = [(r["row"], r["col"], r["text"]) for r in rows]
    assert got == [(0, 0, "alpha beta"), (0, 1, "gamma"),
                   (1, 1, "delta")], got

    # unruled + unhinted: the line strategy finds nothing and the retry
    # never fires (reference pdf_extract.py:240 gate)
    bands = (b"BT /F1 10 Tf 72 600 Td (x0) Tj 90 0 Td (x1) Tj ET\n"
             b"BT /F1 10 Tf 72 580 Td (y0) Tj 90 0 Td (y1) Tj ET\n")
    assert parse_tables(_mini_pdf(bands)) == []
    # same page + a hint line: the text-strategy retry recovers the band
    hinted = bands + (b"BT /F1 10 Tf 72 60 Td"
                      b" (Consolidated Balance Sheets) Tj ET\n")
    got = [(r["row"], r["col"], r["text"])
           for r in parse_tables(_mini_pdf(hinted))]
    assert got == [(0, 0, "x0"), (0, 1, "x1"), (1, 0, "y0"), (1, 1, "y1")]
    # the hint reads the page in READING order: its runs arriving
    # right-to-left in the stream still read "Statements of operations"
    # (the two-run hint line is itself one more band row)
    reversed_hint = bands + (b"BT /F1 10 Tf 162 60 Td (of operations) Tj ET\n"
                             b"BT /F1 10 Tf 72 60 Td (Statements) Tj ET\n")
    got = [(r["row"], r["col"], r["text"])
           for r in parse_tables(_mini_pdf(reversed_hint))]
    assert got == [(0, 0, "x0"), (0, 1, "x1"), (1, 0, "y0"), (1, 1, "y1"),
                   (2, 0, "Statements"), (2, 1, "of operations")], got

    # a run ON the bottom h-ruling / the rightmost v-ruling is inside the
    # grid's bounds, so it belongs to the band it borders (last row / last
    # column) instead of being silently dropped
    edge = (b"BT /F1 10 Tf 72 600 Td (top) Tj ET\n"
            b"BT /F1 10 Tf 72 564 Td (bottom) Tj 176 16 Td (right) Tj ET\n")
    got = [(r["row"], r["col"], r["text"])
           for r in parse_tables(_mini_pdf(grid + edge))]
    assert got == [(0, 0, "top"), (1, 0, "bottom"), (1, 1, "right")], got

    # a rectangle drawn with a NEGATIVE height is the same ruling grid as
    # its positive-extent twin: same strategy, same cells
    cell = b"BT /F1 10 Tf 72 590 Td (boxed) Tj ET\n"
    pos = parse_tables(_mini_pdf(b"68 584 180 20 re S\n" + cell))
    neg = parse_tables(_mini_pdf(b"68 604 180 -20 re S\n" + cell))
    assert [(r["row"], r["col"], r["text"]) for r in pos] == [
        (0, 0, "boxed")]
    assert neg == pos
    assert table_strategy(_mini_pdf(b"68 604 180 -20 re S\n" + cell)) \
        == "ruled"


def test_rollback_semantics(spark, tmp_path):
    """Rollback refusals and marker hygiene: no-op rollback refuses, a
    GC'd target refuses, rolling back TO a compaction commit reads as
    kind 'rollback' (the target's own marker is stripped), and pending
    MOR deletes roll back with the state."""
    import pytest as _pytest

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, v string"
    ).coalesce(1)
    tf.append_snapshot(mk(0, 4), path)                          # v1
    tf.append_snapshot(mk(4, 8), path)                          # v2
    tf.compact_table(spark, path)                               # v3
    tf.delete_keys(spark, spark.createDataFrame([(5,)], "id long"),
                   path, "id")                                   # v4
    with _pytest.raises(ValueError, match="already at"):
        tf.rollback_to(path, tf.current_version(path))
    with _pytest.raises(ValueError, match="does not exist"):
        tf.rollback_to(path, 99)
    v5 = tf.rollback_to(path, 3)                                # v5
    kinds = {r["version"]: r["kind"]
             for r in tf.snapshots_table(spark, path).collect()}
    assert kinds[v5] == "rollback"  # NOT 'compact': marker stripped
    # the v4 delete ceased to be pending: id 5 is back
    ids = {r["id"] for r in tf.read_table(spark, path).collect()}
    assert ids == set(range(8))
    # ... while v4 still reads without id 5 (forward history)
    ids4 = {r["id"] for r in tf.read_table(spark, path, version=4).collect()}
    assert ids4 == set(range(8)) - {5}


def test_ingest_dispatch_routes_by_magic(spark):
    """Routing is by MAGIC BYTES: each family lands in its typed
    extractor, a payload matching no signature fails soft to 'unknown',
    and exactly one output row exists per input doc."""
    from pdf_parser_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [(i,) for i in (4, 5, 6, 7, 13)], "doc_id long"
    )  # %4: 0 html, 1 pdf, 2 image, 3 audio; 13 corrupt
    out = {r["doc_id"]: r for r in mm.ingest_dispatch(
        mm.synthetic_mixed_media(docs)).collect()}
    assert len(out) == 5
    assert out[4]["kind"] == "html"
    assert out[4]["detail"] == "title=Doc 4 of 4"
    assert out[5]["kind"] == "pdf"
    # make_pdf(5 // 4 = 1): 1 % 4 != 3 -> 2 pages, 2 headings
    assert out[5]["detail"] == "pages=2;headings=2"
    assert out[6]["kind"] == "image"
    assert out[6]["detail"] == f"dims={16 + 6 % 117}x{16 + 42 % 93}"
    assert out[7]["kind"] == "audio"
    assert out[7]["detail"] == "ch=2;rate=12000"
    assert out[13]["kind"] == "unknown" and out[13]["detail"] == ""


def test_sitemap_index_expansion(spark):
    """Index-format sitemaps expand to their child urlsets, urlset-format
    rows pass straight through the same parser, and the per-host recrawl
    rank is GLOBAL across a host's shards (the cross-shard ordering a
    per-shard rank would get wrong)."""
    from pdf_parser_spark.operators import weburl

    hosts = spark.createDataFrame(
        [("ab.com",), ("abc.com",)], "host string"
    )  # len 6 even -> index of 2 children; len 7 odd -> plain urlset
    out = weburl.sitemap_expand(weburl.with_sitemap_index(hosts)).collect()
    by_host = {}
    for r in out:
        by_host.setdefault(r["host"], []).append(r)
    # ab.com: children o=0,1 with k=(6+o)%3+1 = 1, 2 urls -> 3 total
    ab = by_host["ab.com"]
    assert len(ab) == 3
    assert {r["loc"] for r in ab} == {
        "https://ab.com/s0/p0", "https://ab.com/s1/p0",
        "https://ab.com/s1/p1"}
    # global rank: freshest lastmod first ACROSS shards
    ranked = sorted(ab, key=lambda r: r["recrawl_rank"])
    assert [r["lastmod"] for r in ranked] == sorted(
        [r["lastmod"] for r in ab], reverse=True)
    # abc.com: plain urlset, (7%4)+2 = 5 urls from the with_sitemaps rule
    assert len(by_host["abc.com"]) == 5
    assert all(r["loc"].startswith("https://abc.com/page/")
               for r in by_host["abc.com"])


def test_mmr_rerank_diversifies(spark):
    """The Carbonell-Goldstein point, engineered so MMR and pure
    relevance DISAGREE: after picking A, its exact duplicate A2 (equal
    relevance, sim 1.0) loses round 2 to the slightly-less-relevant but
    diverse B — placed on the OTHER side of the query in the q-A plane,
    where the angle triangle inequality allows sim(A,B) low enough for
    the 0.7-lambda penalty to flip the argmax.  Pure relevance would
    rank A, A2, B; MMR must rank A, B, A2."""
    from pdf_parser_spark.operators import similarity as sim

    vecs = [
        (0, [1.0, 0.0, 0.0, 0.0]),          # the query
        (1, [0.980, 0.199, 0.0, 0.0]),      # A:  rel .98
        (2, [0.980, 0.199, 0.0, 0.0]),      # A2: exact duplicate of A
        (3, [0.950, -0.312, 0.0, 0.0]),     # B:  rel .95, diverse side
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = sim.mmr_rerank(df, n_queries=1, cand_k=3, select_k=3).collect()
    assert [r["vec_id"] for r in out] == [1, 3, 2]
    by_rank = {r["mmr_rank"]: r for r in out}
    # round 1 is pure relevance (empty selected set), tie-break to id 1
    assert by_rank[1]["rel_bp"] == 9800
    assert by_rank[1]["score"] == 7 * 9800
    # round 2: duplicate penalized by sim 1.0, B's penalty is cos(A,B)
    assert by_rank[2]["vec_id"] == 3
    assert by_rank[3]["score"] == 7 * 9800 - 3 * 10000


def test_code_detect_signals(spark):
    """Prose with 'if' words never flags (keywords alone are not code —
    braces are required); a real snippet flags on all three signals; a
    brace-heavy but keyword-free text (JSON-ish) stays prose."""
    from pdf_parser_spark.operators import textstats as ts

    rows = [
        (0, "what if we go, and if not, then what if"),  # kw only
        (1, "function a(x) { var y = x; if (y) { return y; } return 0; }"),
        (2, '{"a": {"b": {"c": {"d": 1}}}}'),            # braces only
    ]
    df = spark.createDataFrame(rows, "doc_id long, text_code string")
    out = {r["doc_id"]: r for r in ts.code_detect(df).collect()}
    assert not out[0]["is_code"] and out[0]["kw_hits"] == 3
    assert out[0]["n_braces"] == 0
    assert out[1]["is_code"] and out[1]["n_braces"] >= 4
    assert out[1]["kw_hits"] >= 3
    assert not out[2]["is_code"] and out[2]["kw_hits"] == 0


def test_phrase_search_adjacency(spark):
    """Phrase semantics: adjacent bigram hits count per occurrence;
    scattered words, reversed order, and partial presence do NOT hit;
    matching is case-insensitive; the seed doc always hits itself."""
    from pdf_parser_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [
            (0, "x big data big data y"),       # seed: q = (big, data); 2 hits
            (1, "big stuff and data here"),     # scattered: no hit
            (2, "data big"),                    # reversed: no hit
            (3, "more BIG Data inside"),        # case-insensitive hit
            (4, "nothing relevant"),
        ],
        "doc_id long, text string",
    )
    q = ts.phrase_queries(docs)
    assert q.collect()[0]["w1"] == "big" and q.collect()[0]["w2"] == "data"
    out = {r["doc_id"]: r for r in ts.phrase_search(docs, q).collect()}
    assert out[0]["n_matches"] == 2
    assert out[3]["n_matches"] == 1
    assert set(out) == {0, 3}


def test_w9_bot_detect_sliding_peak(spark, tmp_path):
    """The sliding peak is exact, not tumbling: 8 events spanning 51 s
    across a calendar-minute boundary count as one window (a tumbling
    minute would see 4+4 and miss the bot); the trailing frame is 59 s
    inclusive, so a burst needing 61 s stays human."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.plans.relational import w9_bot_detect

    t0 = dt.datetime(2024, 1, 1)
    rows = (
        [(1, s) for s in (30, 40, 50, 55, 60, 65, 70, 80)]   # bot: 8 in 51 s
        + [(2, s) for s in range(0, 700, 100)]               # human: 7 sparse
        + [(3, s) for s in (10, 20, 30, 40, 50, 60, 61)]     # 7 peak: human
    )
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=s) for _, s in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows), pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in w9_bot_detect(spark, str(tmp_path)).collect()}
    assert out[1]["peak_rate"] == 8 and out[1]["is_bot"]
    assert out[2]["peak_rate"] == 1 and not out[2]["is_bot"]
    assert out[3]["peak_rate"] == 7 and not out[3]["is_bot"]


def test_w10_rfm_tiers(spark, tmp_path):
    """Four users, four tiers: each lands alone in its quartile on all
    three dimensions, best = 111, worst = 444; non-purchase events are
    invisible to RFM."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.plans.relational import w10_rfm

    t0 = dt.datetime(2024, 1, 1)
    rows = []  # (user, off_s, type, value)
    for u, (last, n, val) in enumerate(
        [(300, 4, 10.0), (200, 3, 5.0), (100, 2, 2.0), (0, 1, 1.0)],
        start=1,
    ):
        rows += [(u, last - 10 * i, "purchase", val) for i in range(n)]
    rows.append((1, 400, "view", 99.0))  # must not affect anything
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=r[1]) for r in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array([r[2] for r in rows], pa.string()),
        "value": pa.array([r[3] for r in rows], pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))
    out = {r["user_id"]: r for r in w10_rfm(spark, str(tmp_path)).collect()}
    assert [out[u]["segment"] for u in (1, 2, 3, 4)] == [111, 222, 333, 444]
    assert out[1]["frequency"] == 4 and out[1]["monetary_cents"] == 4000
    assert out[4]["recency_s"] > out[1]["recency_s"]


def test_ppr_related_is_seed_local(spark):
    """PPR locality (the Jeh-Widom point): on two disjoint link
    clusters, each seed's related list stays inside its OWN cluster —
    global PageRank would happily rank the other cluster's hub; PPR
    mass cannot reach it.  The seed itself is excluded, and unreachable
    pages never appear."""
    from pdf_parser_spark.operators import linkgraph as lg

    # cluster A: 0 -> 1 -> 2 -> 0; cluster B: 10 -> 11 -> 12 -> 10;
    # isolated page 99
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10)],
        "src long, dst long",
    )
    docs = spark.createDataFrame(
        [(i,) for i in (0, 1, 2, 10, 11, 12, 99)], "doc_id long"
    )
    out = lg.related_docs(docs, edges, seeds=(0, 10), k=3)
    rows = out.collect()
    for r in rows:
        if r["seed_id"] == 0:
            assert r["doc_id"] in (1, 2), r
        else:
            assert r["doc_id"] in (11, 12), r
    assert all(r["doc_id"] != r["seed_id"] for r in rows)
    assert all(r["doc_id"] != 99 for r in rows)
    # proximity order: the direct successor outranks the 2-hop page
    first = {r["seed_id"]: r["doc_id"] for r in rows if r["rel_rank"] == 1}
    assert first == {0: 1, 10: 11}


def test_streaming_bot_detect_cross_batch_window(spark, tmp_path):
    """The histogram carry: a burst split across two batches inside one
    60-second window registers its COMBINED peak (4+4 = bot), and the
    emitted standing accumulates totals; a slow user never flags."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.botdetect import stream_bot_detect

    t0 = dt.datetime(2024, 1, 1)

    def write_batch(path, rows):  # (user, off_s)
        pq.write_table(pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=s) for _, s in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_batch(str(in_dir / "b0.parquet"),
                [(1, s) for s in (50, 51, 52, 53)] + [(2, 0)])
    q = stream_bot_detect(spark, str(in_dir), str(tmp_path / "ckpt"),
                          "bot_stream_test")
    q.processAllAvailable()
    write_batch(str(in_dir / "b1.parquet"),
                [(1, s) for s in (55, 56, 57, 58)] + [(2, 500)])
    q.processAllAvailable()
    q.stop()
    rows = spark.table("bot_stream_test").collect()
    got = {}
    for r in rows:
        got.setdefault(r["user_id"], []).append(
            (r["n_events"], r["peak_rate"], r["is_bot"]))
    # batch 0 standing: 4 events, peak 4, human; batch 1: combined peak 8
    assert got[1] == [(4, 4, False), (8, 8, True)]
    assert got[2] == [(1, 1, False), (2, 1, False)]


def test_streaming_bot_detect_out_of_order_batches(spark, tmp_path):
    """The r4-advice late-data hole, pinned: batch 2 carries seconds
    EARLIER than batch 1's — the windows ending at batch 1's
    already-seen later seconds must be re-evaluated against the raised
    histogram, or the combined peak under-reports vs the batch oracle."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming.botdetect import stream_bot_detect

    t0 = dt.datetime(2024, 1, 1)

    def write_batch(path, rows):
        pq.write_table(pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([t0 + dt.timedelta(seconds=s) for _, s in rows],
                           pa.timestamp("us")),
            "user_id": pa.array([u for u, _ in rows], pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }), path)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    # batch 0: the LATER half of the burst
    write_batch(str(in_dir / "b0.parquet"),
                [(1, s) for s in (55, 56, 57, 58)])
    q = stream_bot_detect(spark, str(in_dir), str(tmp_path / "ckpt"),
                          "bot_stream_ooo_test")
    q.processAllAvailable()
    # batch 1: the EARLIER half, arriving late but within the window
    write_batch(str(in_dir / "b1.parquet"),
                [(1, s) for s in (50, 51, 52, 53)])
    q.processAllAvailable()
    q.stop()
    got = [(r["n_events"], r["peak_rate"], r["is_bot"])
           for r in spark.table("bot_stream_ooo_test")
           .orderBy("n_events").collect()]
    # window ending at 58 now holds all 8 events -> combined peak 8
    assert got == [(4, 4, False), (8, 8, True)]


def test_salsa_kills_tkc_and_floor_math(spark):
    """The Lempel-Moran point, head to head on one graph: a 6-clique
    link farm outranks a 6-endorsed honest page under HITS (mutual
    reinforcement amplifies multiplicatively) but NOT under SALSA (each
    farm page redistributes one normalized unit, so authority follows
    honest in-degree).  Plus the exact floor arithmetic on a 3-node
    chain at one iteration."""
    from pdf_parser_spark.operators import linkgraph as lg

    farm = [(i, j) for i in range(1, 7) for j in range(1, 7) if i != j]
    hubs = [(h, 10) for h in range(20, 26)]
    nodes = [1, 2, 3, 4, 5, 6, 10] + list(range(20, 26))
    docs = spark.createDataFrame([(n,) for n in nodes], "doc_id long")
    edges = spark.createDataFrame(farm + hubs, "src long, dst long")
    ha = {r["doc_id"]: r["authority"]
          for r in lg.hits(docs, edges).collect()}
    sa = {r["doc_id"]: r["authority"]
          for r in lg.salsa(docs, edges).collect()}
    farm_hits = max(ha[i] for i in range(1, 7))
    farm_salsa = max(sa[i] for i in range(1, 7))
    assert farm_hits > ha[10], (farm_hits, ha[10])      # HITS: farm wins
    assert sa[10] > farm_salsa, (sa[10], farm_salsa)    # SALSA: honest wins

    # exact floors, one iteration: 1->2, 1->3, 2->3 at SCALE
    S = lg.SALSA_SCALE
    d2 = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    e2 = spark.createDataFrame([(1, 2), (1, 3), (2, 3)],
                               "src long, dst long")
    out = {r["doc_id"]: r for r in lg.salsa(d2, e2, iterations=1).collect()}
    assert out[2]["authority"] == S // 2
    assert out[3]["authority"] == S // 2 + S
    assert out[1]["hub"] == (S // 2) // 1 + (S // 2 + S) // 2
    assert out[2]["hub"] == (S // 2 + S) // 2
    assert out[3]["hub"] == 0


def test_pdf_text_assembly(spark):
    """Reading order and separators: \\n inside a block, blank line
    between blocks, \\f between pages; counts match the layout."""
    from pdf_parser_spark.operators import pdflayout as op

    docs = spark.createDataFrame([(1,), (3,)], "doc_id long")
    out = {r["doc_id"]: r
           for r in op.pdf_text(op.synthetic_pdfs(docs)).collect()}
    # doc 3: one page (3%4==3), k1=2+(3)%3=2... (3+0)%3=0 -> k1=2, k2=2
    r3 = out[3]
    assert r3["n_pages"] == 1 and r3["n_blocks"] == 3
    assert r3["n_headings"] == 1
    assert r3["text"] == (
        "Heading 0 of doc 3"
        "\n\nBody (para one) line 0 of 3\nBody (para one) line 1 of 3"
        "\n\nBody (para two) line 0 of 3\nBody (para two) line 1 of 3"
    )
    # doc 1: two pages joined by \f, one heading per page
    r1 = out[1]
    assert r1["n_pages"] == 2 and r1["n_headings"] == 2
    assert r1["text"].count("\f") == 1
    p0, p1 = r1["text"].split("\f")
    assert p0.startswith("Heading 0 of doc 1")
    assert p1.startswith("Heading 1 of doc 1")


def test_exif_meta_byte_orders_and_walk(spark):
    """II and MM containers parse to the SAME fields (endianness honored,
    not assumed), a non-Exif APP1 (XMP) is hopped over rather than
    mistaken for the Exif segment, a plain JPEG has no exif, and an
    empty IFD fails soft with NULL fields."""
    import struct

    from pdf_parser_spark.operators import multimodal as mm

    ii = mm.make_jpeg_exif(20, 30, orientation=6, make="Acme", byte_order="II")
    mmb = mm.make_jpeg_exif(20, 30, orientation=6, make="Acme", byte_order="MM")
    plain = mm.make_jpeg(20, 30, com_pad=3)
    # XMP APP1 ahead of the Exif APP1: the walk must hop it
    xmp_body = b"http://ns.adobe.com/xap/1.0/\x00<x/>"
    xmp = b"\xff\xe1" + struct.pack(">H", 2 + len(xmp_body)) + xmp_body
    with_xmp = ii[:2] + xmp + ii[2:]
    # Exif APP1 whose IFD0 declares zero entries: has_exif, null fields
    e = "<"
    tiff0 = (b"II" + struct.pack(e + "H", 42) + struct.pack(e + "I", 8)
             + struct.pack(e + "H", 0) + struct.pack(e + "I", 0))
    empty = (b"\xff\xd8"
             + b"\xff\xe1" + struct.pack(">H", 2 + 6 + len(tiff0))
             + b"Exif\x00\x00" + tiff0 + b"\xff\xd9")
    df = spark.createDataFrame(
        [(0, bytearray(ii)), (1, bytearray(mmb)), (2, bytearray(plain)),
         (3, bytearray(with_xmp)), (4, bytearray(empty))],
        "doc_id long, payload binary",
    )
    out = {r["doc_id"]: r for r in mm.exif_meta(df).collect()}
    for d, order in ((0, "II"), (1, "MM"), (3, "II")):
        assert out[d]["has_exif"] and out[d]["byte_order"] == order
        assert out[d]["orientation"] == 6 and out[d]["make"] == "Acme"
    assert not out[2]["has_exif"] and out[2]["make"] is None
    assert out[4]["has_exif"] and out[4]["byte_order"] == "II"
    assert out[4]["orientation"] is None and out[4]["make"] is None


def test_partition_spec_evolution(spark, tmp_path):
    """Era-appropriate pruning with EXACT file counts: old-era files
    prune under identity(lang), new-era files under identity(src), each
    era passes un-pruned through the other era's predicate; the evolve
    commit is metadata-only, refuses no-ops, and retags the CURRENT spec
    for appends (non-current specs refuse in both directions)."""
    import pytest as _pytest

    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, ["en", "de"][i % 2], f"s{i % 3}") for i in range(lo, hi)],
        "id long, lang string, src string",
    ).coalesce(1)
    tf.partitioned_append(mk(0, 12), path, [("identity", "lang")])   # v1
    # an append under a spec that is not current refuses
    with _pytest.raises(ValueError, match="currently partitioned"):
        tf.partitioned_append(mk(12, 14), path, [("identity", "src")])
    v = tf.evolve_partition_spec(path, [("identity", "src")])        # v2
    assert v == 2
    with _pytest.raises(ValueError, match="already has current spec"):
        tf.evolve_partition_spec(path, [("identity", "src")])
    # ... and now the OLD spec is the refused one
    with _pytest.raises(ValueError, match="currently partitioned"):
        tf.partitioned_append(mk(12, 14), path, [("identity", "lang")])
    tf.partitioned_append(mk(100, 112), path, [("identity", "src")])  # v3
    # old era: 2 files (en, de); new era: 3 files (s0, s1, s2)
    df, n_read, n_total = tf.scan_table(
        spark, path, predicates=[("lang", "=", "en")])
    assert n_total == 5
    assert n_read == 1 + 3  # the en file + ALL new-era files (no lang spec)
    assert sorted(r["id"] for r in df.collect()) == (
        [i for i in range(12) if i % 2 == 0]
        + [i for i in range(100, 112) if i % 2 == 0])
    df, n_read, _ = tf.scan_table(
        spark, path, predicates=[("src", "=", "s1")])
    assert n_read == 2 + 1  # ALL old-era files + the s1 file
    df, n_read, _ = tf.scan_table(
        spark, path, predicates=[("lang", "=", "en"), ("src", "=", "s1")])
    assert n_read == 2      # en file from the old era, s1 from the new
    assert sorted(r["id"] for r in df.collect()) == [
        i for i in list(range(12)) + list(range(100, 112))
        if i % 2 == 0 and i % 3 == 1]
    # the evolve commit shows in the snapshots metadata table
    kinds = {r["version"]: r["kind"]
             for r in tf.snapshots_table(spark, path).collect()}
    assert kinds[2] == "evolve_spec"
    # time travel to v1 reads the pre-evolution table intact
    assert tf.read_table(spark, path, version=1).count() == 12


def test_snapshots_table_kinds(spark, tmp_path):
    """Every commit kind derives correctly from its manifest markers:
    append / delete / purge / overwrite / fast_forward, and parent
    expiry degrades gracefully (missing parent = delete-free)."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, v string"
    ).coalesce(1)
    tf.append_snapshot(mk(0, 4), path)                          # v1
    tf.delete_keys(spark, spark.createDataFrame([(1,)], "id long"),
                   path, "id")                                   # v2
    tf.purge_deletes(spark, path)                                # v3
    tf.overwrite_snapshot(mk(10, 12), path)                      # v4
    tf.create_branch(path, "b")
    tf.branch_append(mk(20, 21), path, "b")
    tf.fast_forward(path, "b")                                   # v5
    kinds = {r["version"]: r["kind"]
             for r in tf.snapshots_table(spark, path).collect()}
    assert kinds == {1: "append", 2: "delete", 3: "purge",
                     4: "overwrite", 5: "fast_forward"}
    # expire v1-v2; the survivors still derive kinds without their parents
    tf.drop_ref(path, "b")
    tf.expire_snapshots(path, keep_from=3, min_age_s=0)
    kinds2 = {r["version"]: r["kind"]
              for r in tf.snapshots_table(spark, path).collect()}
    assert kinds2 == {3: "purge", 4: "overwrite", 5: "fast_forward"}


def test_pdf_incremental_update_prev_chain():
    """PDF incremental updates (§7.5.6): the last xref section lists only
    the changed objects; unchanged objects resolve through the trailer's
    /Prev chain, the newest definition wins, and a /Prev cycle fails
    soft instead of looping."""
    import re

    from pdf_parser_spark.core import pdflayout as core
    from pdf_parser_spark.operators.pdflayout import make_pdf

    base = make_pdf(5)
    new_stream = b"BT /F1 12 Tf 72 700 Td (UPDATED content v2) Tj ET"
    upd = bytearray(base)
    off4 = len(upd)
    upd.extend(b"4 0 obj\n<< /Length %d >>\nstream\n" % len(new_stream)
               + new_stream + b"\nendstream\nendobj\n")
    xref_at = len(upd)
    prev = int(re.search(rb"startxref\s+(\d+)",
                         base[base.rfind(b"startxref"):]).group(1))
    upd.extend(b"xref\n4 1\n%010d 00000 n \n" % off4)
    upd.extend(b"trailer\n<< /Size 9 /Root 1 0 R /Prev %d >>\n"
               b"startxref\n%d\n%%%%EOF\n" % (prev, xref_at))
    texts = [r["text"] for r in core.parse_layout(bytes(upd))]
    assert "UPDATED content v2" in texts            # newest wins
    assert any("Heading 1 of doc 5" in t for t in texts)  # /Prev resolves
    assert not any("Heading 0" in t for t in texts)       # replaced is gone

    # /Prev pointing at ITSELF must terminate, not loop
    cyc = bytearray(base)
    xref_at = len(cyc)
    cyc.extend(b"xref\n0 1\n0000000000 65535 f \n")
    cyc.extend(b"trailer\n<< /Size 1 /Root 1 0 R /Prev %d >>\n"
               b"startxref\n%d\n%%%%EOF\n" % (xref_at, xref_at))
    assert core.parse_layout(bytes(cyc)) == []  # chain dead-ends, no loop


def test_pdf_outline_preorder_and_negatives():
    """Pre-order: a chapter's child section comes before the next
    chapter; outline-less and corrupt documents yield zero items; a
    cyclic /Next chain terminates fail-soft."""
    from pdf_parser_spark.core.pdflayout import parse_outline
    from pdf_parser_spark.operators.pdflayout import (
        make_outline_pdf, make_pdf,
    )

    rows = parse_outline(make_outline_pdf(1))  # nc=2, chapter 0 has child
    assert [(r["level"], r["title"]) for r in rows] == [
        (0, "Chapter 0 of 1"), (1, "Section 0.0 of 1"),
        (0, "Chapter 1 of 1")]
    assert [r["ord"] for r in rows] == [0, 1, 2]
    assert parse_outline(make_pdf(1)) == []          # no /Outlines
    assert parse_outline(b"%PDF-1.4\nnothing") == []  # corrupt

    # cyclic /Next: doc 3 has one chapter (obj 6) with one child (obj
    # 7); point the child's /Next back at its own PARENT — without the
    # seen-set the walk would revisit 6 forever
    data = make_outline_pdf(3)
    assert b"/Parent 6 0 R >>" in data
    # SAME-LENGTH byte patch (a splice would shift every xref offset)
    cyc = data.replace(b"/Parent 6 0 R >>", b"/Next 6 0 R   >>", 1)
    out = parse_outline(cyc)
    assert [r["title"] for r in out] == [
        "Chapter 0 of 3", "Section 0.0 of 3"]  # the cycle adds nothing


def test_change_magnitude_multiset(spark):
    """Multiset, order-insensitive: a reshuffled page scores 0, a
    repeated ad block COUNTS (set semantics would miss it), a light
    edit scores low, a full rewrite scores near 10000."""
    from pdf_parser_spark.operators import snapshot as sn

    old = spark.createDataFrame(
        [(1, "alpha beta gamma delta"),
         (2, "one two three four"),
         (3, "ad text ad text content here"),
         (4, "completely original page body")],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [(1, "delta gamma beta alpha"),          # reshuffle: 0
         (2, "one two three four five"),         # light add: 1/9
         (3, "ad text ad text ad text ad text content here"),  # repeats
         (4, "brand new words entirely different")],           # rewrite
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in sn.change_magnitude(old, new).collect()}
    assert out[1]["sym_diff"] == 0 and out[1]["changed_bp"] == 0
    assert out[2]["sym_diff"] == 1
    assert out[2]["changed_bp"] == 10000 * 1 // 9
    # doc 3: ad/text counts 2->4 each: sym = 4; set semantics would say 0
    assert out[3]["sym_diff"] == 4
    assert out[4]["sym_diff"] == 9 and out[4]["changed_bp"] == 10000


def test_bm25f_anchor_flips_the_tie(spark):
    """The field-merge effect isolated: two docs with IDENTICAL bodies —
    body-only BM25 ties them (rank by doc_id, A first); BM25F sees B's
    anchor endorsement of 'widget' and ranks B first for the widget
    query.  Same saturation constants, so the flip is purely the
    anchor-weighted tf merge."""
    from pdf_parser_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [(1, "widget common stuff"),
         (2, "widget common stuff"),
         (3, "filler words here"),
         (4, "other page body")],
        "doc_id long, text string",
    )
    anchors = spark.createDataFrame(
        [(1, ""), (2, "widget"), (3, ""), (4, "")],
        "doc_id long, anchor string",
    )
    f_rows = ts.bm25f_topk(docs, anchors, n_queries=6, k=4).collect()
    b_rows = ts.bm25_topk(docs, n_queries=6, k=4).collect()

    def ranks(rows, col):
        for r in rows:
            if "widget" in r["q_terms"].split():
                yield r["doc_id"], r["rank"]

    f = dict(ranks(f_rows, "rank"))
    b = dict(ranks(b_rows, "rank"))
    assert f[2] < f[1], (f)   # BM25F: anchored doc wins
    assert b[1] < b[2], (b)   # body-only: tie broken by doc_id, A first


def test_leakage_audit_crossing_only(spark):
    """Only pairs CROSSING the split leak: a near-dup pair entirely
    inside train is not leakage, an exact within-holdout pair is not
    leakage, and a clean source reads zero-filled."""
    from pdf_parser_spark.operators import curation

    body = ("the quick brown fox jumps over the lazy dog again and again"
            " with many repeated shingles to share")
    rows = (
        # source sa: 4 docs; k=2 holdout by hash rank (whichever two) —
        # make ALL FOUR near-identical so every cross pair qualifies
        [(i, body + f" tail{i}", "en", "sa", 1) for i in range(4)]
        # source sb: 3 unique docs, no near-dups at all
        + [(10, "completely unrelated text about alpine skiing", "en",
            "sb", 1),
           (11, "a different page on deep sea creatures", "en", "sb", 1),
           (12, "thirdly a page about medieval castles", "en", "sb", 1)]
    )
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long")
    out = {r["source"]: r
           for r in curation.leakage_audit(docs, k=2).collect()}
    sa = out["sa"]
    assert sa["n_train"] == 2 and sa["n_holdout"] == 2
    # 4 near-identical docs -> 6 pairs; 2x2 = 4 cross pairs leak
    assert sa["n_leaky_pairs"] == 4
    assert sa["n_leaky_holdout_docs"] == 2
    sb = out["sb"]
    assert sb["n_leaky_pairs"] == 0 and sb["n_leaky_holdout_docs"] == 0


def test_dot_segment_removal_rfc3986(spark):
    """§5.2.4 semantics: ./ noise vanishes, .. pops one level, a leading
    .. clamps at root ('if the buffer is empty, do nothing'), chains pop
    in order, and directory-ness survives a trailing /."""
    from pdf_parser_spark.operators import weburl

    rows = [
        (0, "https://a.com/a/./b"),
        (1, "https://a.com/a/b/../c"),
        (2, "https://a.com/../x"),
        (3, "https://a.com/a/b/c/../../d"),
        (4, "https://a.com/a/b/."),
        (5, "https://a.com/a/.."),
        (6, "https://a.com/"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, url string")
    out = {r["doc_id"]: r["clean_path"]
           for r in weburl.remove_dot_segments(df).collect()}
    assert out[0] == "/a/b"
    assert out[1] == "/a/c"
    assert out[2] == "/x"          # root clamp
    assert out[3] == "/a/d"
    assert out[4] == "/a/b/"       # trailing /. keeps directory-ness
    assert out[5] == "/"           # everything popped
    assert out[6] == "/"


def test_w11_stickiness_bounds(spark, tmp_path):
    """Drive-by users floor at ~1/7 (one active day each), a daily-habit
    cohort hits 10000bp, and the mix sits in between — exact integers."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.plans.relational import w11_stickiness

    rows = []  # (user, day_off)
    # week bucket: epoch day 19723 (2024-01-01 era) -- use raw epochs
    # aligned to a week start: week = es // 604800; pick es base at a
    # multiple of 604800 so all 7 days land in ONE week bucket
    base_week_start = (1704067200 // 604800 + 1) * 604800
    # 3 daily users active all 7 days
    for u in (1, 2, 3):
        rows += [(u, d) for d in range(7)]
    # 7 drive-by users, one distinct day each
    rows += [(10 + d, d) for d in range(7)]
    t0 = dt.datetime.fromtimestamp(base_week_start, dt.timezone.utc) \
        .replace(tzinfo=None)
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(days=d, seconds=30)
                        for _, d in rows], pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows), pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))
    out = w11_stickiness(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # DAU per day = 3 daily + 1 drive-by = 4; sum = 28; WAU = 10
    assert r["sum_dau"] == 28 and r["wau"] == 10
    assert r["n_active_days"] == 7
    assert r["stickiness_bp"] == 10000 * 28 // 70  # 4000


def test_assortativity_sign(spark):
    """Disassortative star vs assortative chain-of-hubs: the covariance
    sign flips, computed from exact moments against a python twin."""
    from pdf_parser_spark.operators import linkgraph as lg

    # star: hub 0 -> leaves (hub outdeg 4; every dst indeg 1) — constant
    # x and y per edge -> cov 0; make it disassortative by adding one
    # leaf-to-leaf edge (low-out src hits a dst whose indeg rises)
    star = [(0, i) for i in range(1, 5)] + [(1, 2)]
    docs = spark.createDataFrame([(i,) for i in range(5)], "doc_id long")
    e1 = spark.createDataFrame(star, "src long, dst long")
    r1 = lg.assortativity_moments(docs, e1).collect()[0]

    def twin(edges):
        from collections import Counter
        od, idg = Counter(s for s, _ in edges), Counter(d for _, d in edges)
        xs = [(od[s], idg[d]) for s, d in edges]
        n = len(xs)
        sx = sum(x for x, _ in xs); sy = sum(y for _, y in xs)
        sxy = sum(x * y for x, y in xs)
        return n, sx, sy, sxy, n * sxy - sx * sy

    n, sx, sy, sxy, cov = twin(star)
    assert (r1["n_edges"], r1["sum_x"], r1["sum_y"], r1["sum_xy"],
            r1["cov_num"]) == (n, sx, sy, sxy, cov)
    assert r1["cov_sign"] == (cov > 0) - (cov < 0)
    # assortative: two hubs linking each other plus their own leaves
    assrt = [(0, 1), (1, 0), (0, 2), (1, 3), (4, 0)]
    e2 = spark.createDataFrame(assrt, "src long, dst long")
    r2 = lg.assortativity_moments(docs, e2).collect()[0]
    assert r2["cov_num"] == twin(assrt)[4]


def test_pdf_links_skip_decoys():
    """Only /Link annots with /URI actions count: the /Square annot and
    the /GoTo link in every synthesized page contribute nothing, order
    follows the /Annots array, and annotation-free docs yield zero."""
    from pdf_parser_spark.core.pdflayout import parse_links
    from pdf_parser_spark.operators.pdflayout import (
        make_link_pdf, make_pdf,
    )

    rows = parse_links(make_link_pdf(5))  # k = 1 + 5%3 = 3 links
    assert [r["ord"] for r in rows] == [0, 1, 2]
    assert [r["uri"] for r in rows] == [
        f"https://site{(5 + i) % 10}.example.com/docs/{50 + i}"
        for i in range(3)]
    assert parse_links(make_pdf(5)) == []
    assert parse_links(b"%PDF-1.4\nnope") == []


def test_kwic_windows_and_cap(spark):
    """Context clamps at both document edges, the per-doc cap keeps the
    FIRST occurrences by position, and the keyword is the df-top term
    (df, not cf: one doc repeating a word does not outvote presence)."""
    from pdf_parser_spark.operators import textstats as ts

    docs = spark.createDataFrame(
        [
            (1, "data at start here ok"),            # kw at pos 1
            (2, "one two three data five six seven"),
            (3, "tail words end in data"),           # kw at last pos
            (4, "data a data b data c data d"),      # 4 hits, cap 2
            (5, "spam spam spam spam spam"),         # cf-heavy, df 1
        ],
        "doc_id long, text string",
    )
    out = ts.kwic(docs).collect()
    assert all(r["kw"] == "data" for r in out)  # df 4 beats spam's df 1
    rows = {(r["doc_id"], r["pos"]): r for r in out}
    assert rows[(1, 1)]["left_ctx"] == ""
    assert rows[(1, 1)]["right_ctx"] == "at start here"
    assert rows[(2, 4)]["left_ctx"] == "one two three"
    assert rows[(2, 4)]["right_ctx"] == "five six seven"
    assert rows[(3, 5)]["right_ctx"] == ""
    assert sorted(p for d, p in rows if d == 4) == [1, 3]  # first two


def test_exif_display_dims_transpose(spark):
    """Orientations 5-8 swap the stored SOF dims; 1-4 and EXIF-less
    images keep them (spec default orientation 1)."""
    from pdf_parser_spark.operators import multimodal as mm

    imgs = [
        (0, mm.make_jpeg_exif(100, 40, orientation=6, make="C")),  # swap
        (1, mm.make_jpeg_exif(100, 40, orientation=3, make="C")),  # keep
        (2, mm.make_jpeg(100, 40)),                                # no exif
    ]
    df = spark.createDataFrame(
        [(i, bytearray(b)) for i, b in imgs], "doc_id long, payload binary")
    out = {r["doc_id"]: r for r in mm.exif_display_dims(df).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["rotated"]) == (
        40, 100, True)
    assert (out[1]["width"], out[1]["height"], out[1]["rotated"]) == (
        100, 40, False)
    assert (out[2]["width"], out[2]["height"], out[2]["rotated"]) == (
        100, 40, False)


def test_template_dup_rates(spark):
    """A generated template serving one payload scores near 10000bp; a
    template of genuinely distinct pages scores 0; rates are per (host,
    template)."""
    from pdf_parser_spark.operators import weburl

    rows = (
        [(i, f"https://a.com/cal/{i}", "same calendar page")
         for i in range(4)]
        + [(10 + i, f"https://a.com/post/{i}", f"unique article {i}")
           for i in range(3)]
    )
    df = spark.createDataFrame(rows, "doc_id long, url string, text string")
    out = {(r["host"], r["template"]): r
           for r in weburl.template_dup_rates(df).collect()}
    cal = out[("a.com", "/cal/{d}")]
    assert cal["n_urls"] == 4 and cal["n_distinct_fp"] == 1
    assert cal["dup_bp"] == 10000 * 3 // 4
    post = out[("a.com", "/post/{d}")]
    assert post["dup_bp"] == 0 and post["n_distinct_fp"] == 3


def test_files_table_surface(spark, tmp_path):
    """Footer counts and zone ranges per file, compaction visibly
    shrinks the file list, and stat-less columns surface as NULL keys
    at the end of the ordinal order."""
    from pdf_parser_spark.sources import tableformat as tf

    path = str(tmp_path / "tbl")
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"v{i}") for i in range(lo, hi)], "id long, v string"
    ).coalesce(1)
    tf.append_snapshot(mk(0, 4), path)
    tf.append_snapshot(mk(10, 16), path)
    rows = tf.files_table(spark, path, key_col="id").collect()
    assert [(r["n_rows"], r["min_key"], r["max_key"]) for r in rows] == [
        (4, 0, 3), (6, 10, 15)]
    assert [r["ordinal"] for r in rows] == [0, 1]
    tf.compact_table(spark, path)
    rows2 = tf.files_table(spark, path, key_col="id").collect()
    assert len(rows2) == 1 and rows2[0]["n_rows"] == 10
    assert (rows2[0]["min_key"], rows2[0]["max_key"]) == (0, 15)


def test_w12_user_concentration_pareto(spark, tmp_path):
    """An engineered 80/20 fleet: one whale of 80 events among 9 users
    of 2-3 each; the top-25% slice (ceil(0.25*10) = 3 users) carries the
    whale's share exactly; the top-1% slice is NON-empty by the ceil
    rule (1 user even though 0.01*10 < 1)."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.plans.relational import w12_user_concentration

    t0 = dt.datetime(2024, 1, 1)
    rows = [(1, i) for i in range(80)]
    for u in range(2, 11):
        rows += [(u, 100 * u + i) for i in range(2 + u % 2)]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=s) for _, s in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows), pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))
    out = {r["top_bp"]: r
           for r in w12_user_concentration(spark, str(tmp_path)).collect()}
    total = len(rows)
    assert out[100]["n_top_users"] == 1          # ceil keeps it non-empty
    assert out[100]["share_bp"] == 10000 * 80 // total
    assert out[1000]["n_top_users"] == 1         # ceil(0.1*10) = 1
    assert out[2500]["n_top_users"] == 3         # ceil(2.5) = 3
    top3 = 80 + 3 + 3                            # whale + two 3-event users
    assert out[2500]["share_bp"] == 10000 * top3 // total


def test_dup_by_quality_tier(spark):
    """Base docs sharing text count as dups WITHOUT any injected copy,
    injected copies flag their originals, and tier rates are exact."""
    from pdf_parser_spark.operators import curation

    docs = spark.createDataFrame(
        [(i, ("the same boilerplate page body here"
              if i in (1, 2) else f"unique content {i} " * 3),
          "en", "s", 1) for i in range(1, 6)] + [(17, "copy me", "en", "s", 1)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = curation.dup_by_quality_tier(docs, copy_mod=17).collect()
    total_dups = sum(r["n_dups"] for r in out)
    total_docs = sum(r["n_docs"] for r in out)
    # dups: the base twins 1 and 2, plus 17 (injected copy) = 3 of 6
    assert total_docs == 6 and total_dups == 3
    for r in out:
        assert r["dup_bp"] == 10000 * r["n_dups"] // r["n_docs"]


def test_date_extract_iso_subset(spark):
    """Real calendar ranges: 2024-99-99 and 2024-13-01 never parse, the
    US-format decoy never matches, lexicographic min/max order a
    multi-year set correctly, and word boundaries hold."""
    from pdf_parser_spark.operators import textstats as ts

    rows = [
        (0, "released 2023-12-31 and updated 2024-01-02 ok"),
        (1, "versions 2024-99-99 and 2024-13-01 and 12/31/2024"),
        (2, "serial a2024-05-05b has no boundary"),
        (3, "plain text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text_dated string")
    out = {r["doc_id"]: r for r in ts.date_extract(df).collect()}
    assert out[0]["n_dates"] == 2
    assert (out[0]["min_date"], out[0]["max_date"]) == (
        "2023-12-31", "2024-01-02")
    assert out[1]["n_dates"] == 0
    assert out[2]["n_dates"] == 0
    assert out[3]["min_date"] == "" and out[3]["max_date"] == ""


def test_pdf_parsers_never_raise_fuzz():
    """The fail-soft contract, fuzzed: every pdflayout entry point must
    return a (possibly empty) list on arbitrary byte mutations of real
    PDFs — never raise.  Mutations include truncation at every region,
    xref offset corruption, length-field corruption, and random byte
    flips seeded deterministically."""
    import random

    from pdf_parser_spark.core import pdflayout as core
    from pdf_parser_spark.operators import pdflayout as op

    parsers = (core.parse_layout, core.parse_tables,
               core.parse_outline, core.parse_links)
    # make_pdf(5) is the TJ/Tm/TL/T* flavor, make_table_pdf(7) the
    # ruled-grid flavor, make_table_pdf(3) the hint-retry flavor — the
    # full r5 grammar is inside the mutation corpus
    bases = [op.make_pdf(5), op.make_pdf(4), op.make_table_pdf(3),
             op.make_table_pdf(7), op.make_outline_pdf(1),
             op.make_link_pdf(7)]
    rng = random.Random(99)
    cases = 0
    for base in bases:
        for cut in range(0, len(base), max(1, len(base) // 23)):
            data = base[:cut]
            for p in parsers:
                assert isinstance(p(data), list)
                cases += 1
        for _ in range(60):
            b = bytearray(base)
            for _ in range(rng.randrange(1, 6)):
                b[rng.randrange(len(b))] = rng.randrange(256)
            data = bytes(b)
            for p in parsers:
                assert isinstance(p(data), list)
                cases += 1
            assert core.table_strategy(data) in (
                "ruled", "text_retry", "none")
    assert cases > 1000


def test_w13_interevent_gap_buckets(spark, tmp_path):
    """Bucket math exact at the boundaries: gap 0 -> bucket 0, gap 1 ->
    bucket 1 (2^1 <= 2), gap 3 -> 2, gap 1800 -> 10; gaps are PER
    (user, type) — a user alternating types contributes no cross-type
    gaps."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.plans.relational import w13_interevent_gaps

    t0 = dt.datetime(2024, 1, 1)
    rows = [  # (user, type, off_s)
        (1, "view", 0), (1, "view", 0),      # gap 0 -> bucket 0
        (1, "view", 1),                      # gap 1 -> bucket 1
        (1, "view", 4),                      # gap 3 -> bucket 2
        (1, "view", 1804),                   # gap 1800 -> bucket 10
        (2, "view", 0), (2, "click", 5),     # cross-type: no gap at all
    ]
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(seconds=r[2]) for r in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([r[0] for r in rows], pa.int64()),
        "event_type": pa.array([r[1] for r in rows], pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "events.parquet"))
    out = {(r["event_type"], r["bucket"]): r["n_gaps"]
           for r in w13_interevent_gaps(spark, str(tmp_path)).collect()}
    assert out == {("view", 0): 1, ("view", 1): 1, ("view", 2): 1,
                   ("view", 10): 1}


def test_block_audit_gate_semantics():
    """The north-star block gate as records: drop-tags vanish entirely,
    the 50% link-density BOUNDARY is kept (the gate is a/t <= 0.5,
    compared exactly as 2a > t), 51% drops, and kept blocks recurse so
    nested chrome is audited inside them."""
    from pdf_parser_spark.core.html_extract import block_audit

    html = (
        "<html><body>"
        "<nav><a href='/x'>never seen</a></nav>"
        "<p>edges <a href='/y'>limit</a></p>"          # a=5, t=10: kept
        "<p>edge <a href='/y'>limit</a></p>"           # a=5, t=9: dropped
        "<div><p>real prose body here</p>"
        "<p><a href='/z'>pure links</a></p></div>"     # nested chrome
        "</body></html>"
    )
    recs = block_audit(html)
    by_ord = {r["block_ord"]: r for r in recs}
    assert all(r["tag"] != "nav" for r in recs)
    assert "never" not in str(recs)
    assert by_ord[0]["verdict"] == "kept"            # exactly 50%
    assert by_ord[0]["link_bp"] == 5000
    assert by_ord[1]["verdict"] == "link_dense"      # 5/9 > 50%
    # the kept outer div recurses: its two children get their own rows
    verdicts = [r["verdict"] for r in recs]
    assert verdicts.count("kept") == 3               # p@50, div, inner p
    assert by_ord[4]["verdict"] == "link_dense"      # nested pure-link p


def test_run_lineage_face_resume_split(spark):
    """The p_run_lineage registry face: run r0 (even doc_ids) + resumed
    run r1 must produce lineage sums that partition the fixture exactly —
    the anti-join routed precisely the odd half, and no partition lost or
    double-counted a row."""
    import __spark_entry__ as entry
    from tests.conftest import SF001

    out = {r["run_id"]: r for r in
           entry.queries()["p_run_lineage"](spark, SF001).collect()}
    assert set(out) == {"r0", "r1"}
    docs = spark.read.parquet(f"{SF001}/documents.parquet")
    n = docs.count()
    n_even = docs.where("doc_id % 2 = 0").count()
    assert out["r0"]["n_rows"] == n_even
    assert out["r1"]["n_rows"] == n - n_even
    for r in out.values():
        assert r["n_ok"] + r["n_error"] == r["n_rows"]


@pytest.mark.parametrize("name", [
    "st_dedup", "st_change_feed", "st_gdpr_delete", "u_table_time_travel",
    "extract_pipeline",
])
def test_scratch_faces_leave_no_session_cache(spark, name):
    """A registry face that runs over temporary files returns a memory-sink
    table or an eager localCheckpoint, never a persisted frame: once its
    rows are collected, nothing it built is left in the session's cache
    manager (a persisted frame would stay there until the session ends)."""
    import __spark_entry__ as entry
    from tests.conftest import SF001

    spark.catalog.clearCache()
    assert entry.queries()[name](spark, SF001).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_pdf_tj_flavor_produces_identical_line_grid():
    """doc_id % 7 == 5 content streams use Tm/TL/T*/TJ instead of Td/Tj
    chains but must parse to EXACTLY the formula line grid the oracles
    re-derive — flavor-blindness is what puts the r5 operator set under
    the cross-engine hash."""
    from pdf_parser_spark.core.pdflayout import parse_layout
    from pdf_parser_spark.operators import pdflayout as pl

    for d in (5, 12, 33):          # all ≡5 (mod 7), varying page counts
        assert d % pl.TJ_FLAVOR_MOD == 5
        rows = parse_layout(pl.make_pdf(d))
        n_pages = 1 if d % 4 == 3 else 2
        want = []
        for p in range(n_pages):
            k1 = 2 + (d + p) % 3
            k2 = 1 + (d + p) % 2
            want.append((p, 7200, f"Heading {p} of doc {d}"))
            for i in range(k1):
                want.append((p, 6800 - 140 * i,
                             f"Body (para one) line {i} of {d}"))
            for i in range(k2):
                want.append((p, 5600 - 140 * i,
                             f"Body (para two) line {i} of {d}"))
        got = [(r["page_no"], r["y_tenths"], r["text"]) for r in rows]
        assert got == want, (d, got[:4], want[:4])


def test_w14_growth_accounting_identities(spark, tmp_path):
    """Growth accounting on a hand-built stream: user A active weeks
    0,1,3 (retained at 1, resurrected at 3 after the gap), user B active
    week 0 only (churns into 1).  Both accounting identities must hold
    at EVERY dense row, including the zero-activity gap week 2."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import pdf_parser_spark.plans.relational as R

    wk = R.WEEK_S
    rows = [(1, 0), (1, wk), (1, 3 * wk), (2, 0)]
    (tmp_path / "w14").mkdir()
    pq.write_table(pa.table({
        "event_id": pa.array(range(len(rows)), pa.int64()),
        "ts": pa.array([dt.datetime(1970, 1, 1)
                        + dt.timedelta(seconds=s) for _, s in rows],
                       pa.timestamp("us")),
        "user_id": pa.array([u for u, _ in rows], pa.int64()),
        "event_type": pa.array(["view"] * len(rows), pa.string()),
        "value": pa.array([1.0] * len(rows), pa.float64()),
        "props": pa.array(["{}"] * len(rows), pa.string()),
    }), str(tmp_path / "w14" / "events.parquet"))
    out = [r.asDict() for r in
           R.w14_growth_accounting(spark, str(tmp_path / "w14")).collect()]
    assert [tuple(r.values()) for r in out] == [
        # week, active, new, retained, resurrected, churned
        (0, 2, 2, 0, 0, 0),
        (1, 1, 0, 1, 0, 1),   # A retained, B churned
        (2, 0, 0, 0, 0, 1),   # gap week: A churns into it
        (3, 1, 0, 0, 1, 0),   # A resurrects
    ]
    prev_active = 0
    for r in out:
        assert r["n_active"] == r["n_new"] + r["n_retained"] + \
            r["n_resurrected"]
        assert prev_active == r["n_retained"] + r["n_churned"]
        prev_active = r["n_active"]


def test_table_strategy_verdicts():
    """Doc-level strategy observability: ruled-flavor docs report
    'ruled', hint-flavor docs 'text_retry', corrupt bytes 'none' — and
    an unhinted unruled doc with would-be bands is also 'none' (the
    retry never engaged)."""
    from pdf_parser_spark.core.pdflayout import table_strategy
    from pdf_parser_spark.operators import pdflayout as pl

    assert table_strategy(pl.make_table_pdf(7)) == "ruled"   # 7%5==2
    assert table_strategy(pl.make_table_pdf(3)) == "text_retry"
    assert table_strategy(b"%PDF-1.4\nno xref") == "none"
    bands = (b"BT /F1 10 Tf 72 600 Td (x0) Tj 90 0 Td (x1) Tj ET\n"
             b"BT /F1 10 Tf 72 580 Td (y0) Tj 90 0 Td (y1) Tj ET\n")
    assert table_strategy(_mini_pdf(bands)) == "none"


def test_w15_gini_known_distributions(spark, tmp_path):
    """Gini pins on hand distributions: perfectly equal counts -> 0 bp;
    4 users with counts 1,1,1,7 -> G = (2*(1+2+3+28) - 5*10)/(4*10)
    = 18/40 -> 4500 bp exactly."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    import pdf_parser_spark.plans.relational as R

    def write(rows, name):
        (tmp_path / name).mkdir()
        pq.write_table(pa.table({
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([dt.datetime(2024, 1, 1)] * len(rows),
                           pa.timestamp("us")),
            "user_id": pa.array(rows, pa.int64()),
            "event_type": pa.array(["view"] * len(rows), pa.string()),
            "value": pa.array([1.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }), str(tmp_path / name / "events.parquet"))

    write([1, 2, 3, 4], "eq")
    r = R.w15_activity_gini(spark, str(tmp_path / "eq")).first()
    assert (r["n_users"], r["t_events"], r["gini_bp"]) == (4, 4, 0)

    write([1, 2, 3] + [4] * 7, "skew")
    r = R.w15_activity_gini(spark, str(tmp_path / "skew")).first()
    assert (r["n_users"], r["t_events"], r["gini_bp"]) == (4, 10, 4500)
