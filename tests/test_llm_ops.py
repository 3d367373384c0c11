"""Semantic tests for the approximate LLM operators (the ones without SQL
oracles): SimHash and LSH-ANN are pinned against their exact baselines."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from axonops_schema_registry_spark.catalog import load_table
from axonops_schema_registry_spark.llm.dedup import minhash_lsh_pairs
from axonops_schema_registry_spark.llm.similarity import (
    cosine_topk,
    lsh_ann_topk,
)
from axonops_schema_registry_spark.operators.text import jaccard_pairs
from axonops_schema_registry_spark.queries import SPEC_BY_NAME


def test_minhash_equals_exact_jaccard(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    exact = {(r.id_a, r.id_b)
             for r in jaccard_pairs(docs, "doc_id", "text", 0.8, 3).collect()}
    lsh = {(r.id_a, r.id_b)
           for r in minhash_lsh_pairs(docs, "doc_id", "text", 0.8, 3).collect()}
    assert lsh == exact


def test_banding_recall_guard_on_oracle_fixtures(spark):
    """VERDICT r12 "what's wrong" #2: dd2/dd4/dd8's oracle equality
    silently assumes PERFECT LSH banding recall on the fixture corpus
    (the DuckDB oracles compute exact all-pairs Jaccard; the Spark
    side verifies only banding candidates).  This guard asserts that
    assumption BY NAME on both oracle corpora — the pytest-harness
    fixture (sf0.001) and the driver-gate fixture (sf0.01) — so a
    fixture edit that plants a >=0.8 pair whose bands never collide
    fails HERE with a banding-recall message instead of surfacing as
    a confusing hash mismatch in three specs.  Referenced from the
    dd8 docstring's oracle-contract note (queries/llm_queries.py)."""
    for fixture in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        docs = load_table(spark, fixture, "documents")
        exact = {(r.id_a, r.id_b)
                 for r in jaccard_pairs(
                     docs, "doc_id", "text", 0.8, 3).collect()}
        lsh = {(r.id_a, r.id_b)
               for r in minhash_lsh_pairs(
                   docs, "doc_id", "text", 0.8, 3).collect()}
        missed = exact - lsh
        assert not missed, (
            f"LSH banding recall broke on {fixture}: true >=0.8 "
            f"Jaccard pairs {sorted(missed)[:5]}... never co-banded "
            "(64 hashes / 16 bands).  The dd2/dd4/dd8 oracle equality "
            "RELIES on perfect recall over this corpus — fix the "
            "fixture or the banding parameters, not the election "
            "logic.")
        spurious = lsh - exact
        assert not spurious, (
            f"verify_jaccard passed sub-threshold pairs on {fixture}: "
            f"{sorted(spurious)[:5]} — the exact-verify stage after "
            "banding must make candidates == true pairs.")


def test_simhash_finds_exact_duplicates(spark, sf_dir):
    """Identical documents must collide at hamming 0; every reported pair
    must be genuinely similar (precision floor).  (The corpus's planted
    near-dups sit at jaccard 0.9-0.99, where SimHash@k=3 is selective by
    design — so exact-dup recall is the guaranteed property to pin.)"""
    from axonops_schema_registry_spark.llm.dedup import simhash_pairs

    docs = load_table(spark, sf_dir, "documents").limit(50)
    planted = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text")
    with_dups = docs.select("doc_id", "text").unionByName(planted)
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in simhash_pairs(with_dups, "doc_id", "text",
                                    max_hamming=3, ngram=3).collect()}
    for r in docs.select("doc_id").collect():
        assert pairs.get((r.doc_id, r.doc_id + 100000)) == 0
    # precision floor: reported non-planted pairs are high-jaccard
    exact = {(r.id_a, r.id_b)
             for r in jaccard_pairs(docs, "doc_id", "text", 0.5, 3).collect()}
    reported = {p for p in pairs if p[1] < 100000}
    assert reported <= exact


def test_lsh_ann_planted_recall(spark, sf_dir):
    """LSH-ANN guarantees recall for HIGH-similarity neighbors: a query
    identical to a corpus vector lands in the same bucket in every table,
    so the planted match must be rank 1.  (The driver embeddings are
    uniform random — true top-5 cosine ~0.33 — a regime no LSH recalls;
    the guaranteed property is planted-duplicate retrieval.)"""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    planted = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)) \
        .select((F.col("vec_id") - 10).alias("query_id"),
                F.col("embedding").alias("query_vec"))
    ann = lsh_ann_topk(planted, corpus, k=5).collect()
    top1 = {r.query_id: r.corpus_id for r in ann if r.rank == 1}
    for qid in range(10):
        assert top1.get(qid) == qid + 10, f"planted match missed for {qid}"


def test_ivf_ann_planted_recall(spark, sf_dir):
    """A query identical to a corpus vector maps to the same centroid, so
    IVF must return it at rank 1 with similarity 1.0."""
    from axonops_schema_registry_spark.llm.similarity import ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    planted = emb.filter((F.col("vec_id") >= 30) & (F.col("vec_id") < 40)) \
        .select((F.col("vec_id") - 30).alias("query_id"),
                F.col("embedding").alias("query_vec"))
    ann = ivf_ann_topk(planted, corpus, k=5)
    top1 = {r.query_id: (r.corpus_id, r.cosine_sim)
            for r in ann.collect() if r.rank == 1}
    for qid in range(10):
        cid, sim = top1[qid]
        assert cid == qid + 30 and sim == 1.0


def test_lsh_ann_recall_vs_exact_baseline(spark, sf_dir):
    """nn2 (bench headline) recall against nn1 (exact oracle) ≥ 0.9 at
    rank 1 on the planted query set.  Rank-1 is the honest recall metric
    here: the driver embeddings are uniform random, so exact ranks 2-5
    sit at cosine ~0.33 — not near neighbors, and no sublinear ANN
    recalls them by design.  Genuine near-duplicates (the planted
    queries) must be found."""
    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    planted = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 30)) \
        .select((F.col("vec_id") - 10).alias("query_id"),
                F.col("embedding").alias("query_vec"))
    exact_top1 = {r.query_id: r.corpus_id
                  for r in cosine_topk(planted, corpus, k=1).collect()}
    ann_top1 = {r.query_id: r.corpus_id
                for r in lsh_ann_topk(planted, corpus, k=1).collect()}
    hits = sum(1 for q, c in exact_top1.items() if ann_top1.get(q) == c)
    recall = hits / len(exact_top1)
    assert recall >= 0.9, f"nn2 rank-1 recall vs nn1: {recall}"


def test_lsh_ann_sims_match_exact(spark, sf_dir):
    """Every (query, corpus) pair the ANN returns carries the same rounded
    cosine the exact operator computes (rerank correctness)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    exact = {(r.query_id, r.corpus_id): r.cosine_sim
             for r in cosine_topk(queries, corpus, k=490).collect()}
    for r in lsh_ann_topk(queries, corpus, k=5).collect():
        assert exact[(r.query_id, r.corpus_id)] == r.cosine_sim


def test_recommended_lsh_bits_keeps_candidates_linear():
    """The occupancy-targeted bucket width (the sf1-rehearsal fix for
    dd6's 11.9x super-linear row): expected candidate volume
    n²/2^bits stays within 2x of n × target across four decades of
    corpus size, and bits are monotone, floored, and capped."""
    from axonops_schema_registry_spark.llm.similarity import (
        recommended_lsh_bits,
    )

    target = 200
    prev = 0
    for n in (100, 5_000, 50_000, 500_000, 5_000_000, 50_000_000):
        b = recommended_lsh_bits(n, target_occupancy=target)
        assert b >= prev                      # monotone in n
        prev = b
        if n > target:
            exp_cand = n * n / (1 << b)       # Σ bucket² under uniformity
            assert exp_cand <= 2 * n * target  # linear, bounded by target
    assert recommended_lsh_bits(10) == 5      # floor
    assert recommended_lsh_bits(10**12, max_bits=24) == 24  # cap


def test_kmv_sketch_accuracy_and_merge(spark, sf_dir):
    """KMV estimate within ~8% of exact at k=256 (expected rsd ~6%);
    merging two half-corpus sketches equals sketching the union."""
    from pyspark.sql import functions as F

    from axonops_schema_registry_spark.operators.sketch import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.lit("all").alias("g"),
                       F.explode(F.split("text", " ")).alias("token"),
                       "doc_id")
    exact = toks.select("token").distinct().count()
    est = kmv_sketch(toks, ["g"], "token", 256) \
        .select(kmv_estimate(F.col("kmv"), 256).alias("e")).collect()[0]["e"]
    assert abs(est - exact) / exact < 0.08, (est, exact)

    # mergeability: sketch(left) ⊕ sketch(right) == sketch(all)
    left = kmv_sketch(toks.filter(F.col("doc_id") % 2 == 0), ["g"],
                      "token", 256).select(F.col("kmv").alias("a"))
    right = kmv_sketch(toks.filter(F.col("doc_id") % 2 == 1), ["g"],
                       "token", 256).select(F.col("kmv").alias("b"))
    merged = left.crossJoin(right).select(
        kmv_merge(F.col("a"), F.col("b"), 256).alias("kmv"))
    whole = kmv_sketch(toks, ["g"], "token", 256)
    assert merged.collect()[0]["kmv"] == whole.collect()[0]["kmv"]


# ---------------------------------------------------------------------------
# real header-decode kernel (mm2): stdlib container parsing
# ---------------------------------------------------------------------------

def test_parse_media_header_round_trip_all_formats():
    from axonops_schema_registry_spark.llm.multimodal import (
        parse_media_header,
        synthesize_payload,
    )

    for doc_id in range(0, 256):
        meta = parse_media_header(synthesize_payload(doc_id))
        kind = ("png", "gif", "jpeg", "wav")[doc_id % 4]
        assert meta["format"] == kind, doc_id
        if kind in ("png", "gif", "jpeg"):
            assert meta["width"] == doc_id % 640 + 1
            assert meta["height"] == doc_id % 480 + 1
            assert meta["channels"] is None
        else:
            assert meta["channels"] == 1 + doc_id % 2
            assert meta["sample_rate_hz"] == 8000 * (1 + doc_id % 3)
            assert meta["n_samples"] == doc_id % 64
            assert meta["width"] is None


def test_parse_media_header_rejects_garbage_and_truncation():
    import pytest as _pytest

    from axonops_schema_registry_spark.llm.multimodal import (
        parse_media_header,
    )

    with _pytest.raises(ValueError):
        parse_media_header(b"not a container at all")
    # PNG magic but the first chunk is not IHDR
    bad_png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\x04" + b"JUNK" + b"\x00" * 8
    with _pytest.raises(ValueError):
        parse_media_header(bad_png)
    # JPEG with no SOF marker before EOI
    with _pytest.raises(ValueError):
        parse_media_header(b"\xff\xd8\xff\xd9")
    # WAV missing the data chunk
    import struct

    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    with _pytest.raises(ValueError):
        parse_media_header(b"RIFF" + struct.pack("<I", len(body)) + body)


def test_parse_media_header_gif87a_and_odd_wav_padding():
    import struct

    from axonops_schema_registry_spark.llm.multimodal import (
        parse_media_header,
    )

    gif = b"GIF87a" + struct.pack("<HH", 320, 200) + b"\x00\x00\x00\x3b"
    assert parse_media_header(gif) == {
        "format": "gif", "width": 320, "height": 200, "channels": None,
        "sample_rate_hz": None, "n_samples": None}
    # RIFF chunks pad odd lengths to even — a 3-byte LIST chunk before
    # fmt/data must not desync the walk
    fmt = struct.pack("<HHIIHH", 1, 2, 16000, 64000, 4, 16)
    body = (b"WAVE" + b"LIST" + struct.pack("<I", 3) + b"abc\x00"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", 40) + b"\x00" * 40)
    meta = parse_media_header(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert meta == {"format": "wav", "width": None, "height": None,
                    "channels": 2, "sample_rate_hz": 16000, "n_samples": 10}


def test_curation_pipeline_facade(spark, sf_dir):
    """The CurationPipeline facade chains the curation surface over a
    documents corpus (sample -> dedup -> mixture), each call backed by
    the driver-verified operator."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    cp = CurationPipeline.from_sf_dir(spark, sf_dir)
    rates = (cp.docs.select("source").distinct()
             .withColumn("rate", F.lit(0.5)))
    sampled = cp.sample(rates)
    assert 0 < sampled.count() < cp.docs.count()
    flags = cp.dedup_flags()
    n_dup = flags.filter("is_dup").count()
    assert n_dup > 0
    assert cp.deduplicated().count() == cp.docs.count() - n_dup
    quotas = (cp.docs.select("source").distinct()
              .withColumn("quota", F.lit(5)))
    mix = cp.mixture(quotas)
    assert mix.groupBy("source").count().agg(
        F.max("count")).first()[0] == 5
    langs = cp.language_id()
    assert set(langs.columns) == {"doc_id", "lang"}
    q = cp.quality_flags()
    assert {"ok_words", "ok_stop", "ok_all"} <= set(q.columns)
    assert q.count() == cp.docs.count()
    packs = cp.packed(512)
    assert packs.agg(F.sum("n_docs")).first()[0] == cp.docs.count()
    terms = cp.top_terms(2)
    assert terms.groupBy("doc_id").count().agg(
        F.max("count")).first()[0] <= 2


def test_curation_pipeline_r10_surface(spark, sf_dir, tmp_path):
    """The r10 facade additions: span find/cut, DSIR weights, shard
    export — each delegating to its driver-verified operator."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    cp = CurationPipeline.from_sf_dir(spark, sf_dir)
    spans = cp.duplicated_spans()
    assert spans.count() > 0  # the synthetic corpus has dup spans
    cut = cp.span_deduplicated()
    assert cut.count() == cp.docs.count()
    assert cut.agg(F.sum("n_removed")).first()[0] > 0
    target = cp.docs.filter(F.col("source") == "src0") \
        .select("doc_id")
    w = cp.dsir_weights(target)
    assert w.count() == cp.docs.count()
    assert {"doc_id", "n_feats", "log_weight"} == set(w.columns)
    qf = cp.quality_filter(target)
    assert qf.count() == cp.docs.count()
    assert {"doc_id", "n_feats", "score_micro", "keep"} \
        == set(qf.columns)
    manifest = cp.export_shards(str(tmp_path / "sh"), n_shards=4)
    assert manifest.agg(F.sum("n_docs")).first()[0] == cp.docs.count()


def test_contamination_flags_planted(spark):
    """A training doc quoting an exact 5-gram span from the evaluation
    set is flagged; unrelated docs are not."""
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
    )

    test = spark.createDataFrame(
        [(1, "what is the capital of france paris of course")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, "page quoting what is the capital of france verbatim"),
         (11, "completely unrelated text about gardening tips here")],
        "doc_id long, text string")
    out = {r.doc_id: r.n_shared_spans
           for r in contamination_flags(train, test).collect()}
    assert 10 in out and out[10] >= 2
    assert 11 not in out


def test_pii_redaction_roundtrip(spark):
    from axonops_schema_registry_spark.llm.text import (
        pii_counts,
        pii_redact,
    )

    df = spark.createDataFrame(
        [(1, "mail bob@corp.io or call 555-867-5309 from 10.0.0.1"),
         (2, "nothing sensitive here")],
        "doc_id long, text string")
    counts = {r.doc_id: (r.n_email, r.n_phone, r.n_ipv4)
              for r in df.select("doc_id",
                                 *pii_counts("text")).collect()}
    assert counts[1] == (1, 1, 1) and counts[2] == (0, 0, 0)
    red = df.withColumn("text", pii_redact("text")).collect()
    scrubbed = next(r.text for r in red if r.doc_id == 1)
    assert "<EMAIL>" in scrubbed and "<PHONE>" in scrubbed \
        and "<IPV4>" in scrubbed
    assert "bob@corp.io" not in scrubbed
    # redacted corpus must scan clean
    clean = (spark.createDataFrame([(1, scrubbed)],
                                   "doc_id long, text string")
             .select(*pii_counts("text")).first())
    assert sum(clean) == 0


# ---------------------------------------------------------------------------
# PNG pixel decode (mm3 kernel)
# ---------------------------------------------------------------------------

def _reference_png(w, h, pixels, filters):
    """Independent in-test PNG writer (filter math written out long-hand
    so the library decoder is checked against a second implementation,
    not an echo of its own encoder)."""
    import struct
    import zlib

    def chunk(ctype, data):
        return (struct.pack(">I", len(data)) + ctype + data
                + struct.pack(">I", zlib.crc32(ctype + data)))

    rows = [bytes(c for x in range(w) for c in pixels[y][x])
            for y in range(h)]
    stream = bytearray()
    prev = bytes(w * 3)
    for y, row in enumerate(rows):
        f = filters[y % len(filters)]
        stream.append(f)
        for i, v in enumerate(row):
            a = row[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if f == 0:
                pred = 0
            elif f == 1:
                pred = a
            elif f == 2:
                pred = b
            elif f == 3:
                pred = (a + b) >> 1
            else:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            stream.append((v - pred) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(bytes(stream)))
            + chunk(b"IEND", b""))


def test_png_decode_all_filter_types():
    from axonops_schema_registry_spark.llm.multimodal import (
        decode_png_pixels,
    )

    w, h = 5, 5
    pixels = [[((x * 37 + y * 101) % 256, (x + y) % 256, (x * y) % 256)
               for x in range(w)] for y in range(h)]
    for filters in ([0], [1], [2], [3], [4], [0, 1, 2, 3, 4]):
        got = decode_png_pixels(_reference_png(w, h, pixels, filters))
        assert got["width"] == w and got["height"] == h
        assert got["channels"] == 3 and got["n_pixels"] == w * h
        assert got["sum_r"] == sum(p[0] for row in pixels for p in row)
        assert got["sum_g"] == sum(p[1] for row in pixels for p in row)
        assert got["sum_b"] == sum(p[2] for row in pixels for p in row)


def test_png_encode_decode_roundtrip_matches_formula():
    from axonops_schema_registry_spark.llm.multimodal import (
        _pixel_value,
        decode_png_pixels,
        synthesize_png_pixels,
    )

    for doc_id in (0, 1, 7, 63, 123, 480):
        got = decode_png_pixels(synthesize_png_pixels(doc_id))
        w, h = doc_id % 16 + 1, doc_id % 12 + 1
        want = [_pixel_value(doc_id, x, y)
                for y in range(h) for x in range(w)]
        assert got["width"] == w and got["height"] == h
        assert got["sum_r"] == sum(p[0] for p in want)
        assert got["sum_g"] == sum(p[1] for p in want)
        assert got["sum_b"] == sum(p[2] for p in want)


def test_png_decode_rejects_garbage():
    import pytest as _pytest

    from axonops_schema_registry_spark.llm.multimodal import (
        decode_png_pixels,
    )

    with _pytest.raises(ValueError):
        decode_png_pixels(b"not a png at all")
    with _pytest.raises(ValueError):
        decode_png_pixels(b"\x89PNG\r\n\x1a\n" + b"\x00" * 8)


# ---------------------------------------------------------------------------
# sequence packing / gopher quality / tf-idf (r6 operators)
# ---------------------------------------------------------------------------

def test_pack_assignments_invariants(spark):
    from axonops_schema_registry_spark.llm.packing import (
        pack_assignments,
        pack_manifest,
    )

    docs = spark.createDataFrame(
        [(i, "s1", " ".join(["w"] * (10 + i))) for i in range(30)],
        "doc_id bigint, source string, text string")
    L = 64
    a = pack_assignments(docs, L).collect()
    assert len(a) == 30
    total = sum(r.n_tokens for r in a)
    # offsets tile the concatenated stream exactly
    by_off = sorted(a, key=lambda r: r.start_offset)
    assert by_off[0].start_offset == 0
    for prev, cur in zip(by_off, by_off[1:]):
        assert cur.start_offset == prev.start_offset + prev.n_tokens
    for r in a:
        assert r.pack_id == r.start_offset // L
        end = r.start_offset + r.n_tokens - 1
        assert r.straddles == (end // L != r.pack_id)
    m = {r.pack_id: r for r in pack_manifest(docs, L).collect()}
    assert sum(r.tok_sum for r in m.values()) == total
    assert set(m) == set(range(max(m) + 1))  # no empty starting packs


def test_gopher_rules_fire_individually(spark):
    from axonops_schema_registry_spark.llm.text import (
        gopher_rules,
        gopher_stats,
    )
    from pyspark.sql import functions as F

    good = " ".join(["the", "and", "field"] * 20)          # 60 words, stops
    short = "the and of tiny"                               # < 50 words
    symbols = " ".join(["the", "and"] * 30 + ["#"] * 12)    # symbol ratio
    nonalpha = " ".join(["the", "and"] * 13 + ["123"] * 40)  # alpha frac
    nostop = " ".join(["zebra", "kudu", "okapi"] * 20)      # no stopwords
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, symbols), (4, nonalpha), (5, nostop)],
        "doc_id bigint, text string")
    stats = df.select("doc_id", *gopher_stats("text"))
    rules = gopher_rules(F.col("n_words"), F.col("mean_word_len"),
                         F.col("symbol_ratio"), F.col("alpha_frac"),
                         F.col("stop_hits"))
    rows = {r.doc_id: r for r in stats.select(
        "doc_id", *[v.alias(k) for k, v in rules.items()]).collect()}
    assert all(rows[1][k] for k in rules), rows[1]
    assert not rows[2].ok_words
    assert not rows[3].ok_symbols
    assert not rows[4].ok_alpha
    assert not rows[5].ok_stop


def test_tfidf_top_terms_exact(spark):
    from axonops_schema_registry_spark.operators.text import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [(1, "apple apple banana shared"),
         (2, "banana cherry shared shared"),
         (3, "cherry shared date date")],
        "doc_id bigint, text string")
    out = {(r.doc_id, r.rnk): (r.token, r.tf, r.df, r.score)
           for r in tfidf_top_terms(df, "doc_id", "text", 2).collect()}
    # doc 1: apple tf=2 df=1 -> 2*3/1=6; banana tf=1 df=2 -> 1.5
    assert out[(1, 1)] == ("apple", 2, 1, 6.0)
    assert out[(1, 2)] == ("banana", 1, 2, 1.5)
    # doc 3: date tf=2 df=1 -> 6; cherry tf=1 df=2 -> 1.5
    assert out[(3, 1)] == ("date", 2, 1, 6.0)
    assert out[(3, 2)] == ("cherry", 1, 2, 1.5)
    # 'shared' (df=3) never beats a rarer term with equal tf
    assert all(v[0] != "shared" or v[1] >= 2 for v in out.values())


def test_repetition_stats_edges(spark):
    from axonops_schema_registry_spark.operators.text import (
        repetition_stats,
    )

    df = spark.createDataFrame(
        [(1, "solo"),                       # single word: no bigrams
         (2, "go go go go"),                # one bigram repeated 3x
         (3, "a b c d")],                   # all distinct
        "doc_id bigint, text string")
    rows = {r.doc_id: r for r in
            repetition_stats(df, "doc_id", "text").collect()}
    assert rows[1].n_words == 1 and rows[1].max_bigram_cnt == 0
    assert rows[1].top_bigram_frac == 0.0
    assert rows[2].n_distinct == 1 and rows[2].dup_word_frac == 0.75
    assert rows[2].max_bigram_cnt == 3 and rows[2].top_bigram_frac == 1.0
    assert rows[3].dup_word_frac == 0.0 and rows[3].max_bigram_cnt == 1


def test_bloom_prefilter_no_false_negatives(spark):
    from axonops_schema_registry_spark.llm.contamination import (
        bloom_prefilter_spans,
    )

    spans = spark.createDataFrame(
        [(i, f"span number {i}") for i in range(200)],
        "id bigint, span string")
    members = spark.createDataFrame(
        [(f"span number {i}",) for i in range(0, 200, 7)],
        "span string")
    kept = {r.span for r in
            bloom_prefilter_spans(spans, members).collect()}
    want = {f"span number {i}" for i in range(0, 200, 7)}
    assert want <= kept  # every true member survives
    # a 2^18-bit / 4-probe bloom over 29 members has ~0 FP probability:
    # candidates should be (nearly) exact here
    assert len(kept) <= len(want) + 2


def test_bloom_contamination_equals_exact(spark, sf_dir):
    from axonops_schema_registry_spark.llm.contamination import (
        contamination_flags,
        contamination_flags_bloom,
    )

    docs = load_table(spark, sf_dir, "documents")
    test = docs.filter(F.col("source") == "src1")
    train = docs.filter(F.col("source") != "src1")
    exact = sorted(map(tuple, contamination_flags(
        train, test).collect()))
    bloom = sorted(map(tuple, contamination_flags_bloom(
        train, test).collect()))
    assert bloom == exact
    # tiny bloom (high FP rate) must STILL be exact — the downstream
    # exact join removes every false positive
    tiny = sorted(map(tuple, contamination_flags_bloom(
        train, test, m_bits=1 << 8, k=2).collect()))
    assert tiny == exact


def test_winnowing_shared_run_guarantee(spark):
    """Winnowing guarantee (Schleimer et al. 2003): two documents
    sharing a token run of >= w + k - 1 tokens share at least one
    selected fingerprint; density stays ~2/(w+1)."""
    from axonops_schema_registry_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    shared = "quick brown fox jumps over lazy dog today"  # 8 >= 4+3-1
    df = spark.createDataFrame(
        [(1, "alpha beta " + shared + " gamma delta epsilon zeta"),
         (2, "one two three four " + shared + " five six"),
         (3, "totally different words with zero overlap at all here")],
        "doc_id bigint, text string")
    prints = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4)
    by_doc = {}
    for r in prints.collect():
        by_doc.setdefault(r.id, set()).add(r.print_hash)
    assert by_doc[1] & by_doc[2], "shared run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density: expected ~2/(w+1)=0.4 of k-gram positions at w=4;
    # assert a real bound (0.6) so a broken window/tie selection that
    # keeps nearly every position fails
    n_grams_1 = len(df.collect()[0].text.split()) - 2
    assert len(by_doc[1]) <= 0.6 * n_grams_1, (len(by_doc[1]), n_grams_1)


def test_winnowing_short_doc_empty(spark):
    from axonops_schema_registry_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    df = spark.createDataFrame(
        [(1, "too few words"), (2, "a b c d e f")],
        "doc_id bigint, text string")
    rows = winnowing_fingerprints(df, "doc_id", "text", k=3, w=4).collect()
    # doc 1: 1 k-gram < w windows -> nothing; doc 2: 4 grams = 1 window
    ids = {r.id for r in rows}
    assert ids == {2}


def test_pq_adc_planted_recall(spark, sf_dir):
    """A query identical to a corpus vector scores ADC distance equal
    to that vector's own reconstruction error — the smallest value its
    quantized representation can produce — so the planted match must
    appear in the top-5 (and empirically at rank 1 on this corpus).
    The uniform-noise recall ceiling for NON-planted neighbors is
    measured honestly by ev1_ann_recall instead."""
    from axonops_schema_registry_spark.llm.similarity import pq_adc_topk

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    planted = emb.filter((F.col("vec_id") >= 10) & (F.col("vec_id") < 20)) \
        .select((F.col("vec_id") - 10).alias("query_id"),
                F.col("embedding").alias("query_vec"))
    got = pq_adc_topk(planted, corpus, k=5).collect()
    by_q: dict[int, list] = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append((r.rank, r.corpus_id))
    for qid in range(10):
        top5 = [c for _, c in sorted(by_q[qid])]
        assert qid + 10 in top5, f"planted match missed for {qid}"


def test_pq_codebook_survives_offset_id_spaces(spark, sf_dir):
    """The codebook cap is rank-based, not an absolute id bound: a
    corpus whose ids start at an arbitrary offset (sharded id spaces)
    must still yield a full codebook and encode every vector — the
    id-bound form silently returned an EMPTY frame here."""
    from axonops_schema_registry_spark.llm.similarity import pq_encode

    emb = load_table(spark, sf_dir, "embeddings") \
        .withColumn("vec_id", F.col("vec_id") + 1_000_000_000)
    out = pq_encode(emb)
    assert out.count() == emb.count()
    assert out.filter(F.col("code_0").isNull()).count() == 0


def test_pq_rejects_indivisible_dimension(spark):
    """A vector dimension not divisible by m must fail LOUDLY — the
    silent alternative drops the trailing dimensions from every code
    and distance."""
    import pytest as _pytest

    from axonops_schema_registry_spark.llm.similarity import pq_encode

    bad = spark.createDataFrame(
        [(0, [0.1] * 62), (1, [0.2] * 62)],
        "vec_id bigint, embedding array<float>")
    with _pytest.raises(Exception, match="not divisible"):
        pq_encode(bad).collect()


def test_whole_doc_packing_capacity_invariant(spark, sf_dir):
    """Next-fit whole-document packing: no pack exceeds context_len
    unless it holds exactly one (oversize) document, no document is
    split, and every document appears exactly once."""
    from axonops_schema_registry_spark.llm.packing import (
        pack_documents_whole,
    )

    docs = load_table(spark, sf_dir, "documents")
    a = pack_documents_whole(docs, 512, n_segments=8)
    per_pack = (a.groupBy("source", "segment", "pack_id")
                .agg(F.count(F.lit(1)).alias("n_docs"),
                     F.sum("n_tokens").alias("tok_sum")).collect())
    assert sum(r.n_docs for r in per_pack) == docs.count()
    for r in per_pack:
        assert r.tok_sum <= 512 or r.n_docs == 1, r
    # no-straddle by construction: per-doc rows carry their whole
    # token count in exactly one pack
    assert a.groupBy("doc_id").count().filter("count > 1").count() == 0


def _flag_rows(df):
    return {(r[0], r[1], r[2]) for r in df.collect()}


def test_collapse_exact_flags_identical(spark):
    """The exact-collapse hot-bucket guard must be result-invisible:
    incremental_dedup_flags(collapse_exact=True) equals the
    uncollapsed run on a corpus with byte-identical groups, cross-group
    near-dups, and shingle-less short docs (which must stay unflagged
    even when byte-identical)."""
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )

    base_a = " ".join(f"alpha{i}" for i in range(30))
    base_b = " ".join(f"alpha{i}" for i in range(29)) + " omega"  # near-dup of a
    base_c = " ".join(f"beta{i}" for i in range(30))
    rows = [
        (1, base_a), (2, base_a), (5, base_a),      # exact group, rep=1
        (3, base_b),                                 # near-dup of group a
        (4, base_b),                                 # exact copy of 3
        (6, base_c), (9, base_c),                    # unrelated exact group
        (7, "too short"), (8, "too short"),          # shingle-less: never dup
        (10, "solo " + base_c.replace("beta0", "gamma0")),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    plain = _flag_rows(incremental_dedup_flags(
        docs, collapse_exact=False, cache_tokens=False))
    collapsed = _flag_rows(incremental_dedup_flags(
        docs, collapse_exact=True, cache_tokens=False))
    assert collapsed == plain
    flags = {i: (d, o) for i, d, o in collapsed}
    assert flags[2] == (True, 1) and flags[5] == (True, 1)
    assert flags[3] == (True, 1)          # near-dup across groups
    assert flags[4] == (True, 1)          # exact copy of a near-dup
    assert flags[9] == (True, 6)
    assert flags[7] == (False, None) and flags[8] == (False, None)
    # incremental (new_ids) shape: verdicts for a late batch only,
    # including a new doc byte-identical to an OLD doc (old rep)
    late = spark.createDataFrame(
        [(11, base_a), (12, "fresh " + base_c)],
        "doc_id bigint, text string")
    corpus = docs.unionByName(late)
    new_ids = late.select("doc_id")
    plain_inc = _flag_rows(incremental_dedup_flags(
        corpus, new_ids=new_ids, collapse_exact=False,
        cache_tokens=False))
    coll_inc = _flag_rows(incremental_dedup_flags(
        corpus, new_ids=new_ids, collapse_exact=True,
        cache_tokens=False))
    assert coll_inc == plain_inc
    assert {i for i, _, _ in coll_inc} == {11, 12}
    assert dict((i, (d, o)) for i, d, o in coll_inc)[11] == (True, 1)


def test_max_bucket_cap_preserves_first_wins_on_dup_heavy_corpus(spark):
    """With exact dups collapsed, a modest per-bucket cap leaves the
    flags of a duplicate-heavy corpus unchanged (the cap keeps the
    SMALLEST ids — exactly the ones first-wins dup_of points at)."""
    from axonops_schema_registry_spark.llm.dedup import (
        incremental_dedup_flags,
    )

    tmpl = " ".join(f"w{i}" for i in range(40))
    rows = [(i, tmpl) for i in range(90)]            # 90% boilerplate
    rows += [(100 + i, tmpl.replace(f"w{i}", f"u{i}") + f" tail{i}")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = _flag_rows(incremental_dedup_flags(
        docs, cache_tokens=False))
    capped = _flag_rows(incremental_dedup_flags(
        docs, cache_tokens=False, max_bucket=8))
    assert capped == uncapped
    flags = {i: (d, o) for i, d, o in capped}
    assert all(flags[i] == (True, 0) for i in range(1, 90))


def test_jpeg_entropy_decode_roundtrip(spark):
    """The baseline-JPEG kernel is a REAL entropy decode: (a) the
    constant-block synthesis reconstructs to the exact closed form the
    mm5 oracle replays; (b) rich gradient blocks — dense nonzero ACs,
    run-lengths, EOB mid-block — reconstruct to an INDEPENDENT numpy
    DCT/quantize/IDCT reference; (c) non-baseline and truncated inputs
    fail loudly; (d) the mapInPandas plumbing round-trips on Spark."""
    import math

    import numpy as np
    import pytest

    from axonops_schema_registry_spark.llm.multimodal import (
        _dct_matrix,
        decode_jpeg_blocks,
        decode_jpeg_gray,
        synthesize_jpeg_gray,
        synthesize_jpeg_media,
    )

    # (a) closed form, the oracle's arithmetic
    def expected(doc_id):
        w, h = 8 * (doc_id % 4 + 1), 8 * (doc_id % 3 + 1)
        total = 0
        for by in range(h // 8):
            for bx in range(w // 8):
                g = (doc_id * 11 + bx * 31 + by * 17) % 256
                s = math.floor((g - 127) / 2.0)
                total += 64 * min(max(2 * s + 128, 0), 255)
        return {"width": w, "height": h,
                "n_blocks": (w // 8) * (h // 8), "sum_y": total}

    for d in range(0, 120):
        assert decode_jpeg_gray(synthesize_jpeg_gray(d)) == expected(d)

    # (b) rich AC paths vs an independent reference pipeline
    m = _dct_matrix()
    for d in (0, 7, 23, 55):
        w, h = 8 * (d % 4 + 1), 8 * (d % 3 + 1)
        total = 0
        for by in range(h // 8):
            for bx in range(w // 8):
                block = np.array(
                    [[(d + 3 * (bx * 8 + x) + 5 * (by * 8 + y)) % 256
                      for x in range(8)] for y in range(8)], dtype=float)
                coef = m @ (block - 128.0) @ m.T
                quant = np.floor(np.round(coef / 16, 9) + 0.5)
                rec = m.T @ (quant * 16) @ m
                total += int(np.clip(np.round(rec + 128.0), 0, 255).sum())
        got = decode_jpeg_gray(synthesize_jpeg_gray(d, rich=True))
        assert got["sum_y"] == total

    # (c) loud failures: progressive SOF2 and truncated scans
    good = synthesize_jpeg_gray(9)
    progressive = good.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline"):
        decode_jpeg_gray(progressive)
    with pytest.raises(ValueError):
        decode_jpeg_gray(good[:len(good) // 2])

    # (d) the Spark plumbing end-to-end
    ids = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    rows = {r.doc_id: (r.width, r.height, r.n_blocks, r.sum_y)
            for r in decode_jpeg_blocks(
                synthesize_jpeg_media(ids, "doc_id")).collect()}
    assert len(rows) == 40
    for d, vals in rows.items():
        e = expected(d)
        assert vals == (e["width"], e["height"], e["n_blocks"],
                        e["sum_y"])


def _bpe_ref_train(word_counts, k):
    """Pure-Python greedy BPE over symbol lists: count adjacent pairs
    (weighted by word count), merge the top pair (count DESC, pair ASC)
    left to right in every word, repeat k times."""
    vocab = [(list(w), n) for w, n in sorted(word_counts.items())]
    merges = []
    for step in range(1, k + 1):
        pairs = {}
        for syms, n in vocab:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                pairs[p] = pairs.get(p, 0) + n
        if not pairs:
            break
        (a, b), c = min(pairs.items(),
                        key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, a, b, c))
        nxt = []
        for syms, n in vocab:
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            nxt.append((out, n))
        vocab = nxt
    return merges


def test_bpe_merges_match_pure_python_reference(spark):
    """Cross-implementation check: the Spark BPE trainer/encoder
    (driver loop + replace semantics) must equal an independently
    written pure-Python BPE (explicit greedy left-to-right merge over
    symbol lists) on seeded random corpora — pinning pair counting,
    the (count DESC, pair ASC) tie-break, and merge application."""
    import random

    from axonops_schema_registry_spark.llm.text import (
        bpe_merges,
        bpe_tokenize_counts,
    )

    def ref_encode(word, merges):
        syms = list(word)
        for _, a, b, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if (i + 1 < len(syms) and syms[i] == a
                        and syms[i + 1] == b):
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    for seed in (1, 7, 42):
        rng = random.Random(seed)
        letters = "abcdef"
        docs_py = []
        for d in range(25):
            words = [
                "".join(rng.choice(letters)
                        for _ in range(rng.randint(2, 6)))
                for _ in range(8)]
            docs_py.append((d, " ".join(words)))
        docs = spark.createDataFrame(docs_py,
                                     "doc_id bigint, text string")
        wc = {}
        for _, text in docs_py:
            for w in text.split():
                wc[w] = wc.get(w, 0) + 1
        want = _bpe_ref_train(wc, 6)
        got = [(r.step, r.lhs, r.rhs, r.pair_count)
               for r in bpe_merges(docs, "text", k=6)
               .orderBy("step").collect()]
        assert got == want, f"seed {seed}: {got} != {want}"

        want_counts = {d: (len(t.split()),
                           sum(ref_encode(w, want) for w in t.split()))
                       for d, t in docs_py}
        got_counts = {r.doc_id: (r.n_words, r.n_bpe_tokens)
                      for r in bpe_tokenize_counts(
                          docs, "doc_id", "text", k=6).collect()}
        assert got_counts == want_counts, f"seed {seed}"


def test_bpe_merges_exact_where_concatenations_could_collide(spark):
    """``ab``+``c`` and ``a``+``bc`` spell the same symbol.  This corpus
    makes ``ab``, ``bc`` and ``abc`` all symbols, so a fold remaking an
    existing string would let created pairs add onto existing counts.
    Greedy never remakes one (no merge's lhs+rhs repeats), and the
    batched elections must replay it exactly."""
    from axonops_schema_registry_spark.llm.text import bpe_merges

    wc = {"abc": 4, "abd": 3, "ebc": 3, "aebc": 2, "abcbc": 2, "xy": 5,
          "xyz": 1}
    docs = spark.createDataFrame(
        [(i, " ".join([w] * n)) for i, (w, n) in enumerate(wc.items())],
        "doc_id bigint, text string")
    want = _bpe_ref_train(wc, 9)
    made = [a + b for _, a, b, _ in want]
    assert {"ab", "bc", "abc"} <= set(made)
    assert len(set(made)) == len(made)
    got = [(r.step, r.lhs, r.rhs, r.pair_count)
           for r in bpe_merges(docs, "text", k=9).orderBy("step").collect()]
    assert got == want


def _py_hash48(s: str) -> int:
    """Pure-Python twin of llm.sampling.portable_hash: first 12 hex
    digits of md5 as an integer."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:12], 16)


def test_winnowing_matches_pure_python_reference(spark, sf_dir):
    """Cross-implementation check: the array-arithmetic winnowing
    operator must equal an independently written pure-Python
    implementation of the published algorithm (hash k-grams, slide a
    w-window, keep each window's minimum with RIGHTMOST tie-break,
    dedup repeated selections)."""
    from axonops_schema_registry_spark.llm.dedup import (
        winnowing_fingerprints,
    )

    k, w = 3, 4
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").limit(60)
    rows = docs.collect()

    def ref(text: str) -> set:
        words = text.split(" ")
        n = len(words) - k + 1
        if n < 1:
            return set()
        hs = [_py_hash48(" ".join(words[i:i + k])) for i in range(n)]
        if len(hs) < w:
            return set()
        out = set()
        for p in range(len(hs) - w + 1):
            # min by hash; rightmost position on ties
            j = min(range(p, p + w), key=lambda x: (hs[x], -x))
            out.add((j + 1, hs[j]))  # 1-based position
        return out

    want = {r.doc_id: ref(r.text) for r in rows}
    got: dict = {r.doc_id: set() for r in rows}
    for r in winnowing_fingerprints(docs, "doc_id", "text",
                                    k=k, w=w).collect():
        got[r.id].add((r.pos, r.print_hash))
    assert got == want
    assert any(want.values())  # non-degenerate corpus


def test_whole_doc_packing_matches_pure_python_reference(spark, sf_dir):
    """Cross-implementation check for pk3's applyInPandas fold: an
    independent pure-Python next-fit over the same (hash, key) order
    must reproduce pack ids and fills exactly."""
    from axonops_schema_registry_spark.llm.packing import (
        pack_documents_whole,
    )

    context_len, n_segments = 128, 2  # small packs: folds overflow
    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "source", "text").limit(200)
    rows = docs.collect()

    streams: dict = {}
    for r in rows:
        h = _py_hash48(str(r.doc_id))
        seg = h * n_segments // (1 << 48)
        n_tok = len(r.text.split())
        streams.setdefault((r.source, seg), []).append(
            (h, r.doc_id, n_tok))
    want = {}
    for key, items in streams.items():
        items.sort()
        pack, fill = 0, 0
        for i, (h, doc_id, n) in enumerate(items):
            if i > 0 and fill + n > context_len:
                pack, fill = pack + 1, 0
            fill += n
            want[doc_id] = (key[0], key[1], n, pack, fill)

    got = {r.doc_id: (r.source, r.segment, r.n_tokens, r.pack_id,
                      r.fill_after)
           for r in pack_documents_whole(
               docs, context_len, n_segments=n_segments).collect()}
    assert got == want
    assert max(p for _, _, _, p, _ in want.values()) >= 1  # multi-pack


def test_connected_components_match_union_find_reference(spark):
    """Cross-ALGORITHM check: iterative min-label propagation must
    equal a pure-Python union-find on an adversarial graph — long
    chains (propagation needs diameter iterations), stars, bridged
    cliques, and isolated edges, keyed so smallest ids sit at chain
    ENDS (worst case for min-label)."""
    from axonops_schema_registry_spark.llm.dedup import (
        connected_components,
    )

    edges = []
    # chain of 12 with the smallest id at the far end
    chain = [30, 29, 28, 27, 26, 25, 24, 23, 22, 21, 20, 1]
    edges += list(zip(chain, chain[1:]))
    # star around a large hub with a small satellite
    edges += [(100, s) for s in (101, 102, 103, 2)]
    # two cliques bridged by one edge
    edges += [(a, b) for a in (50, 51, 52) for b in (50, 51, 52)
              if a < b]
    edges += [(a, b) for a in (60, 61, 62) for b in (60, 61, 62)
              if a < b]
    edges += [(52, 60)]
    # isolated pair
    edges += [(70, 71)]

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    comps: dict = {}
    for n in parent:
        comps.setdefault(find(n), set()).add(n)
    want = {n: (root, len(members))
            for root, members in comps.items() for n in members}

    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges],
        "id_a bigint, id_b bigint")
    got = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in connected_components(pairs).collect()}
    assert got == want
    assert got[30] == (1, 12)  # the full chain collapsed to id 1


def test_connected_components_long_chain_pointer_doubling(spark):
    """r12 regression: a 200-node path (diameter 199) exceeded the
    pre-r12 one-hop loop's max_iter=20 and came back with SILENTLY
    wrong labels; pointer doubling converges in O(log diameter)
    rounds — and exhausting max_iter now raises instead of returning
    half-propagated clusters."""
    import pytest

    from axonops_schema_registry_spark.llm.dedup import (
        connected_components,
    )

    n = 200
    pairs = spark.createDataFrame([(i, i + 1) for i in range(n - 1)],
                                  "id_a bigint, id_b bigint")
    stats: dict = {}
    got = {r.doc_id: (r.cluster_id, r.cluster_size)
           for r in connected_components(pairs, stats=stats).collect()}
    assert got == {i: (0, n) for i in range(n)}
    assert stats["rounds"] <= 9          # ~log2(199) + slack, not 199

    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iter=2)


def test_duplicated_span_islands_match_pure_python_reference(spark):
    """Cross-implementation check for the exact-substring span dedup:
    an explicit Python scan (count k-grams, mark duplicated positions,
    merge consecutive runs) on a corpus with cross-doc shared spans,
    same-doc internal repetition, overlapping islands, and short docs
    must equal the window-based operator exactly."""
    from axonops_schema_registry_spark.llm.dedup import (
        duplicated_span_islands,
    )

    k, min_count = 3, 2
    texts = {
        1: "a b c d e f g h",          # shares 'c d e' with doc 2
        2: "x y c d e f q r s",        # shares 'd e f' too -> island
        3: "m m m m m m",              # internal repetition
        4: "p q",                      # too short to gram
        5: "unique words only here now then",
    }
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")

    grams: dict = {}
    for d, t in texts.items():
        ws = t.split(" ")
        for i in range(len(ws) - k + 1):
            g = " ".join(ws[i:i + k])
            grams.setdefault(g, []).append((d, i + 1))
    dup = {g for g, occ in grams.items() if len(occ) >= min_count}
    pos_by_doc: dict = {}
    for g in dup:
        for d, p in grams[g]:
            pos_by_doc.setdefault(d, set()).add(p)
    want = set()
    for d, ps in pos_by_doc.items():
        run = []
        for p in sorted(ps):
            if run and p == run[-1] + 1:
                run.append(p)
            else:
                if run:
                    want.add((d, run[0], run[-1],
                              run[-1] - run[0] + k))
                run = [p]
        if run:
            want.add((d, run[0], run[-1], run[-1] - run[0] + k))

    got = {(r.id, r.start_pos, r.end_pos, r.n_words)
           for r in duplicated_span_islands(
               docs, "doc_id", "text", k=k,
               min_count=min_count).collect()}
    assert got == want
    # the fixture exercises what it claims
    assert any(d == 3 for d, _, _, _ in want)        # internal repeat
    assert any(d in (1, 2) for d, _, _, _ in want)   # cross-doc span


def test_remove_duplicated_spans_matches_pure_python_reference(spark):
    """The cut step over the same fixture: positions covered by any
    island vanish from the document (all occurrences — the symmetric
    ExactSubstr policy); untouched and too-short docs come back
    intact with n_removed = 0."""
    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )

    k, min_count = 3, 2
    texts = {
        1: "a b c d e f g h",
        2: "x y c d e f q r s",
        3: "m m m m m m",
        4: "p q",
        5: "unique words only here now then",
    }
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")

    grams: dict = {}
    for d, t in texts.items():
        ws = t.split(" ")
        for i in range(len(ws) - k + 1):
            g = " ".join(ws[i:i + k])
            grams.setdefault(g, []).append((d, i + 1))
    dup = {g for g, occ in grams.items() if len(occ) >= min_count}
    covered: dict = {d: set() for d in texts}
    for g in dup:
        for d, p in grams[g]:
            covered[d].update(range(p, p + k))
    want = {}
    for d, t in texts.items():
        ws = t.split(" ")
        kept = [w for i, w in enumerate(ws, 1)
                if i not in covered[d]]
        want[d] = (len(ws), len(ws) - len(kept), " ".join(kept))

    got = {r.id: (r.n_words, r.n_removed, r.cleaned_text)
           for r in remove_duplicated_spans(
               docs, "doc_id", "text", k=k,
               min_count=min_count).collect()}
    assert got == want
    # the fixture exercises what it claims
    assert want[3][2] == ""                     # fully-covered doc
    assert want[4] == (2, 0, "p q")             # too short to gram
    assert want[5][1] == 0                      # untouched doc
    assert 0 < want[1][1] < want[1][0]          # partial cut


def test_span_islands_hash_grams_path_is_equivalent(spark, sf_dir):
    """The 100 TB form (``hash_grams=True`` — xxhash64 gram keys, an
    8-byte shuffle key instead of a ~9-word string) must produce the
    IDENTICAL span set as the raw-string path, both on the fixture
    corpus above and on the real documents table."""
    from axonops_schema_registry_spark.catalog import load_table
    from axonops_schema_registry_spark.llm.dedup import (
        duplicated_span_islands,
    )

    def spans(df, **kw):
        return {(r.id, r.start_pos, r.end_pos, r.n_words)
                for r in duplicated_span_islands(df, "doc_id", "text",
                                                 **kw).collect()}

    fixture = spark.createDataFrame(
        [(1, "a b c d e f g h"), (2, "x y c d e f q r s"),
         (3, "m m m m m m"), (4, "p q"),
         (5, "unique words only here now then")],
        "doc_id bigint, text string")
    assert (spans(fixture, k=3, min_count=2, hash_grams=True)
            == spans(fixture, k=3, min_count=2))

    docs = load_table(spark, sf_dir, "documents")
    raw = spans(docs, k=8, min_count=2)
    assert raw  # the synthetic corpus does contain duplicated spans
    assert spans(docs, k=8, min_count=2, hash_grams=True) == raw


def test_remove_spans_hash_grams_path_is_equivalent(spark, sf_dir):
    """The cut step inherits the islands' 100 TB form: hash_grams=True
    must yield the identical cleaned corpus as the raw-string path."""
    from axonops_schema_registry_spark.catalog import load_table
    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )

    docs = load_table(spark, sf_dir, "documents").limit(300)

    def cleaned(**kw):
        return {(r.id, r.n_words, r.n_removed, r.cleaned_text)
                for r in remove_duplicated_spans(
                    docs, "doc_id", "text", k=8, min_count=2,
                    **kw).collect()}

    raw = cleaned()
    assert any(r[2] > 0 for r in raw)  # some spans actually cut
    assert cleaned(hash_grams=True) == raw


def test_pq_encode_matches_pure_python_reference(spark, sf_dir):
    """Cross-implementation check for the PQ encoder: an explicit
    Python replay — rank-capped congruence codebook, left-to-right
    squared-L2 folds, argmin with smallest-centroid ties, HALF_UP
    9-decimal rounding, exact Decimal error sum — must reproduce every
    code and reconstruction error."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from axonops_schema_registry_spark.llm.similarity import pq_encode

    m, stride, maxc = 4, 31, 256
    emb = load_table(spark, sf_dir, "embeddings") \
        .select("vec_id", "embedding").limit(300)
    vectors = {r.vec_id: [float(x) for x in r.embedding]
               for r in emb.collect()}
    cids = sorted(i for i in vectors if i % stride == 0)[:maxc]
    assert cids  # guard would have raised otherwise

    def d2(a, b):
        acc = 0.0
        for x, c in zip(a, b):  # left fold, like the SQL aggregate
            acc = acc + (x - c) * (x - c)
        return acc

    want = {}
    for vid, v in vectors.items():
        sub = len(v) // m
        codes, errs = [], []
        for j in range(m):
            sv = v[j * sub:(j + 1) * sub]
            best = None
            for cid in cids:
                cv = vectors[cid][j * sub:(j + 1) * sub]
                dist = d2(sv, cv)
                if (best is None or dist < best[0]
                        or (dist == best[0] and cid < best[1])):
                    best = (dist, cid)
            codes.append(best[1])
            # Spark round(double, 9) + DECIMAL(25,9) cast are both
            # repr-based HALF_UP — replicate via Decimal(repr())
            errs.append(Decimal(repr(best[0])).quantize(
                Decimal("1e-9"), rounding=ROUND_HALF_UP))
        err = float(Decimal(repr(math.sqrt(float(sum(errs)))))
                    .quantize(Decimal("1e-4"),
                              rounding=ROUND_HALF_UP))
        want[vid] = (*codes, err)

    got = {r.vec_id: (r.code_0, r.code_1, r.code_2, r.code_3,
                      r.recon_err)
           for r in pq_encode(emb, m=m, centroid_stride=stride,
                              max_centroids=maxc).collect()}
    assert got == want


def test_ivf_portable_matches_pure_python_reference(spark, sf_dir):
    """Cross-implementation check for the portable IVF index (nn3's
    core): an explicit Python replay — rank-capped congruence
    centroids, left-fold dot/norm, 4-decimal HALF_UP rounded cosine,
    (sim DESC, id ASC) assignment and rerank ties, n_probe lists —
    must reproduce the full top-k result."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from axonops_schema_registry_spark.llm.similarity import (
        ivf_ann_topk_portable,
    )

    k, stride, n_probe, maxc = 5, 31, 4, 256
    emb = load_table(spark, sf_dir, "embeddings")
    corpus_rows = {r.vec_id: [float(x) for x in r.embedding]
                   for r in emb.filter(F.col("vec_id") >= 10).collect()}
    query_rows = {r.vec_id: [float(x) for x in r.embedding]
                  for r in emb.filter(F.col("vec_id") < 10).collect()}

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def norm(a):
        acc = 0.0
        for x in a:
            acc = acc + x * x
        return math.sqrt(acc)

    def r4(x):
        return float(Decimal(repr(x)).quantize(
            Decimal("1e-4"), rounding=ROUND_HALF_UP))

    cents = sorted(i for i in corpus_rows if i % stride == 0)[:maxc]
    cnorm = {c: norm(corpus_rows[c]) for c in cents}

    def nearest(vec, vnorm, keep):
        scored = sorted(
            ((-r4(fold_dot(vec, corpus_rows[c]) / (vnorm * cnorm[c])),
              c) for c in cents))
        return [c for _, c in scored[:keep]]

    assign = {cid: nearest(v, norm(v), 1)[0]
              for cid, v in corpus_rows.items()}
    want = {}
    for qid, qv in query_rows.items():
        qn = norm(qv)
        probes = set(nearest(qv, qn, n_probe))
        cands = [c for c, ct in assign.items() if ct in probes]
        ranked = sorted(
            ((-r4(fold_dot(qv, corpus_rows[c]) / (qn * norm(
                corpus_rows[c]))), c) for c in cands))
        for rank, (negsim, c) in enumerate(ranked[:k], start=1):
            want[(qid, c)] = (-negsim, rank)

    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))
    got = {(r.query_id, r.corpus_id): (r.cosine_sim, r.rank)
           for r in ivf_ann_topk_portable(
               queries, corpus, k=k, centroid_stride=stride,
               n_probe=n_probe, max_centroids=maxc).collect()}
    assert got == want
    assert len(got) == 10 * k  # every query returns a full top-k


def test_dsir_log_weights_match_pure_python_reference(spark):
    """DSIR weights pinned against an independent pure-Python
    simulator (own md5 bucketing, math.log, Decimal half-up rounding,
    exact decimal accumulation) — the oracle shares the Spark query's
    formula shape, so only an independent reference catches a bug in
    the shared math (the BPE lesson)."""
    import hashlib
    import math
    from decimal import ROUND_HALF_UP, Decimal

    from axonops_schema_registry_spark.llm.sampling import (
        dsir_log_weights,
    )

    texts = {1: "a b a c", 2: "b c d b", 3: "a a a",
             4: "x y z w", 5: "a b c d"}
    target = {1, 3}
    K = 64
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    tgt = spark.createDataFrame([(i,) for i in sorted(target)],
                                "doc_id bigint")

    def bucket(f: str) -> int:
        return int(hashlib.md5(f.encode()).hexdigest()[:12], 16) % K

    def feats(t: str) -> list:
        ws = t.split(" ")
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    doc_b: dict = {}
    for d, t in texts.items():
        cnts: dict = {}
        for f in feats(t):
            cnts[bucket(f)] = cnts.get(bucket(f), 0) + 1
        doc_b[d] = cnts
    raw: dict = {}
    tgt_c: dict = {}
    for d, cnts in doc_b.items():
        for b, c in cnts.items():
            raw[b] = raw.get(b, 0) + c
            if d in target:
                tgt_c[b] = tgt_c.get(b, 0) + c
    nr, nt = sum(raw.values()), sum(tgt_c.values())
    q = Decimal("0.000001")
    lr = {b: Decimal(repr((math.log(tgt_c.get(b, 0) + 1)
                           - math.log(nt + K))
                          - (math.log(cr + 1) - math.log(nr + K))))
          .quantize(q, ROUND_HALF_UP)
          for b, cr in raw.items()}
    want = {d: (sum(cnts.values()),
                float(sum(lr[b] * c for b, c in cnts.items())))
            for d, cnts in doc_b.items()}

    got = {r.doc_id: (r.n_feats, r.log_weight)
           for r in dsir_log_weights(docs, tgt,
                                     n_buckets=K).collect()}
    assert got == want
    # target-slice docs should score higher than the off-topic doc
    assert want[1][1] > want[4][1] and want[3][1] > want[4][1]


def test_quality_filter_match_pure_python_reference(spark):
    """qf1's NBSVM weights pinned against an independent pure-Python
    simulator (own md5 bucketing, math.log, floor quantization to
    integer micro-units — the floor_q convention, ADVICE r15 — exact
    integer dot product) — the dsir independent-reference convention:
    the DuckDB oracle shares the formula shape, so only this catches
    a bug in the shared math."""
    import hashlib
    import math

    from axonops_schema_registry_spark.llm.sampling import (
        quality_filter_scores,
    )

    texts = {1: "good fine good prose", 2: "fine good prose text",
             3: "spam spam buy buy", 4: "buy spam now spam",
             5: "good prose spam text"}
    positive = {1, 2}
    K = 64
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    pos = spark.createDataFrame([(i,) for i in sorted(positive)],
                                "doc_id bigint")

    def bucket(f: str) -> int:
        return int(hashlib.md5(f.encode()).hexdigest()[:12], 16) % K

    def feats(t: str) -> list:
        ws = t.split(" ")
        return ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]

    doc_b: dict = {}
    for d, t in texts.items():
        cnts: dict = {}
        for f in feats(t):
            cnts[bucket(f)] = cnts.get(bucket(f), 0) + 1
        doc_b[d] = cnts
    allc: dict = {}
    posc: dict = {}
    for d, cnts in doc_b.items():
        for b, c in cnts.items():
            allc[b] = allc.get(b, 0) + c
            if d in positive:
                posc[b] = posc.get(b, 0) + c
    na, np_ = sum(allc.values()), sum(posc.values())
    w = {b: math.floor(
            ((math.log(posc.get(b, 0) + 1) - math.log(np_ + K))
             - (math.log(ca - posc.get(b, 0) + 1)
                - math.log(na - np_ + K))) * 1_000_000)
         for b, ca in allc.items()}
    want = {}
    for d, cnts in doc_b.items():
        score = sum(w[b] * c for b, c in cnts.items())
        want[d] = (sum(cnts.values()), score, score > 0)

    got = {r.doc_id: (r.n_feats, r.score_micro, r.keep)
           for r in quality_filter_scores(docs, pos,
                                          n_buckets=K).collect()}
    assert got == want
    # the planted contrast: reference-like docs keep, spam drops
    assert want[1][2] and want[2][2]
    assert not want[3][2] and not want[4][2]


def test_token_budget_mixture_prefix_semantics(spark):
    """mix5's contract on a planted corpus: selection is the PREFIX of
    the hash order whose inclusive cumulative tokens stays <= budget —
    the first overflowing doc and everything after it are excluded; a
    source whose budget is 0 selects nothing but still appears in the
    budget-side frame."""
    from pyspark.sql import functions as F

    from axonops_schema_registry_spark.llm.sampling import (
        portable_hash,
        token_budget_mixture,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{i}x{j}" for j in range(4)), "a")
         for i in range(10)]
        + [(100, "lone doc here", "z")],
        "doc_id bigint, text string, source string")
    budgets = spark.createDataFrame(
        [("a", 10), ("z", 0)], "source string, token_budget bigint")
    got = token_budget_mixture(docs, budgets).collect()
    assert all(r.source == "a" for r in got)      # z's budget is 0
    assert len(got) == 2                          # 4+4 <= 10 < 4+4+4
    # the selected pair must be the 2 smallest-hash docs of source a
    order = sorted(
        (int(h[0]), i) for i, h in
        ((r.doc_id, docs.filter(F.col("doc_id") == r.doc_id)
          .select(portable_hash(F.col("doc_id").cast("string")))
          .collect()[0]) for r in docs.filter("source='a'").collect()))
    want_ids = {i for _, i in order[:2]}
    assert {r.doc_id for r in got} == want_ids
    assert sorted(r.mix_rank for r in got) == [1, 2]
    assert max(r.cum_tokens for r in got) == 8


def test_perplexity_buckets_planted(spark):
    """CCNet head/middle/tail semantics on a planted corpus: within
    each source the common-word doc lands in head, the gibberish doc
    in tail, counts are equal per bucket; the non-3 bucket count path
    uses b<k> labels."""
    from axonops_schema_registry_spark.llm.text import (
        perplexity_buckets,
    )

    common = "the the the the"                # corpus-frequent: low -ln p
    mixed = "the the zq1 zq2"
    rare = "xx9 yy8 ww7 vv6"                  # singletons: high surprisal
    rows = []
    for s, base in (("a", 0), ("b", 10)):
        rows += [(base + 1, common, s), (base + 2, mixed, s),
                 (base + 3, rare, s)]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string")
    got = {(r.source, r.doc_id % 10): r.bucket_label
           for r in perplexity_buckets(docs).collect()}
    for s in ("a", "b"):
        assert got[(s, 1)] == "head"
        assert got[(s, 2)] == "middle"
        assert got[(s, 3)] == "tail"
    two = {r.bucket_label
           for r in perplexity_buckets(docs, n_buckets=2).collect()}
    assert two == {"b0", "b1"}


def test_quality_gated_mixture_invariants(spark, sf_dir):
    """qf2's composition seams: every emitted source exists among the
    gated survivors, each source selects exactly min(quota, available)
    documents, and the total selection never exceeds the budget."""
    from axonops_schema_registry_spark.queries.llm_queries import (
        qf2_quality_gated_mixture,
    )

    rows = qf2_quality_gated_mixture(spark, sf_dir).collect()
    assert rows, "gated mixture emitted nothing"
    assert sum(r.n_selected for r in rows) <= 150
    for r in rows:
        assert r.n_selected <= r.quota
        assert (r.max_rank == r.n_selected), \
            "selection must be the rank-prefix of the hash order"
        if r.n_selected:
            assert r.id_checksum > 0


def test_quality_filter_empty_positive_degrades(spark):
    """An EMPTY reference slice must degrade to a uniform positive LM
    (every weight ≤ 0, nothing kept) instead of NULLing every score —
    the dsir empty-target coalesce contract."""
    from axonops_schema_registry_spark.llm.sampling import (
        quality_filter_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f")], "doc_id bigint, text string")
    empty = spark.createDataFrame([], "doc_id bigint")
    rows = quality_filter_scores(docs, empty, n_buckets=64).collect()
    assert len(rows) == 2
    assert all(r.score_micro is not None and r.score_micro <= 0
               and not r.keep for r in rows)


def test_write_shards_round_trip_and_manifest(spark, sf_dir, tmp_path):
    """The export writer: shard_id=K/ parquet directories land on
    disk, the returned manifest (computed from the WRITTEN files) is
    identical to the input-side manifest, the round-trip loses or
    mutates nothing, and a per-shard read prunes to one directory."""
    import os

    from axonops_schema_registry_spark.llm.export import (
        assign_shards,
        shard_manifest,
        write_shards,
    )

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").limit(200)
    out = str(tmp_path / "shards")
    got_manifest = {r.shard_id: (r.n_docs, r.n_tokens, r.min_id,
                                 r.max_id, r.content_checksum)
                    for r in write_shards(docs, out,
                                          n_shards=8).collect()}
    want_manifest = {r.shard_id: (r.n_docs, r.n_tokens, r.min_id,
                                  r.max_id, r.content_checksum)
                     for r in shard_manifest(docs,
                                             n_shards=8).collect()}
    assert got_manifest == want_manifest
    assert sum(m[0] for m in got_manifest.values()) == 200

    dirs = {d for d in os.listdir(out) if d.startswith("shard_id=")}
    assert dirs == {f"shard_id={s}" for s in got_manifest}

    back = spark.read.parquet(out)
    want_rows = sorted((r.doc_id, r.text) for r in docs.collect())
    got_rows = sorted((r.doc_id, r.text)
                      for r in back.select("doc_id", "text").collect())
    assert got_rows == want_rows

    # one-shard read returns exactly that shard's assignment
    some = sorted(got_manifest)[0]
    want_ids = {r.doc_id for r in assign_shards(docs, 8)
                .filter(F.col("shard_id") == some).collect()}
    got_ids = {r.doc_id for r in spark.read.parquet(
        os.path.join(out, f"shard_id={some}")).collect()}
    assert got_ids == want_ids


def test_predict_lang_matches_pure_python_reference(spark):
    """tx1's heuristic shares its construction between the Spark
    column builder and the SQL twin, so only an independent
    simulator pins the semantics (argmax over stopword hits,
    sorted-language order, strict > keeps the earlier winner,
    all-zero → unknown)."""
    from axonops_schema_registry_spark.llm.text import (
        LANG_STOPWORDS,
        predict_lang,
    )

    texts = {
        1: "the cat and the dog of a to",       # en
        2: "der hund und die katze ist",        # de
        3: "le chat et la maison est les",      # fr
        4: "el perro y la casa es los",         # es
        5: "xylophone quartz vibrato",          # unknown
        6: "the la",                            # en-es tie → earlier
        7: "",                                  # empty → unknown
    }

    def ref(t: str) -> str:
        best, score = "unknown", 0
        for lang in sorted(LANG_STOPWORDS):
            hits = sum(1 for w in t.split(" ")
                       if w in LANG_STOPWORDS[lang])
            if hits > score:
                best, score = lang, hits
        return best

    want = {d: ref(t) for d, t in texts.items()}
    assert want[1] == "en" and want[2] == "de"
    assert want[3] == "fr" and want[4] == "es"
    assert want[5] == "unknown" and want[7] == "unknown"
    assert want[6] == "en"  # 'the'=1 en vs 'la'=1 es/fr: tie keeps en

    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    got = {r.doc_id: r.lang for r in docs.select(
        "doc_id", predict_lang("text").alias("lang")).collect()}
    assert got == want


def test_rolling_fingerprint_matches_pure_python_reference(spark):
    """tx3's Karp-Rabin hash shares the fold between the Spark
    expression and the DuckDB twin; an independent Python fold pins
    base-31 / Mersenne-mod semantics (and the empty-string → 0
    edge)."""
    from axonops_schema_registry_spark.llm.text import (
        ROLLING_BASE,
        ROLLING_MOD,
        rolling_fingerprint,
    )

    texts = {1: "abc", 2: "", 3: "the quick brown fox",
             4: "a" * 100, 5: "Z9!~ mixed %chars\t"}

    def ref(t: str) -> int:
        h = 0
        for ch in t:
            h = (h * ROLLING_BASE + ord(ch)) % ROLLING_MOD
        return h

    want = {d: ref(t) for d, t in texts.items()}
    assert want[2] == 0
    assert want[1] == (ord("a") * 31 + ord("b")) * 31 + ord("c")

    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    got = {r.doc_id: r.fp for r in docs.select(
        "doc_id", rolling_fingerprint("text").alias("fp")).collect()}
    assert got == want


def test_dsir_empty_target_degrades_to_uniform(spark):
    """An empty target slice must not silently NULL every weight:
    smoothing degrades to a uniform target LM (nt = 0) and weights
    stay defined (negative — every bucket is less likely under the
    uniform target than under the fitted pool LM)."""
    from axonops_schema_registry_spark.llm.sampling import (
        dsir_log_weights,
    )

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f"), (3, "a a a")],
        "doc_id bigint, text string")
    empty = spark.createDataFrame([], "doc_id bigint")
    rows = dsir_log_weights(docs, empty, n_buckets=64).collect()
    assert len(rows) == 3
    assert all(r.log_weight is not None for r in rows)


def test_write_shards_max_records_per_file(spark, sf_dir, tmp_path):
    """The per-file cap rolls parquet files inside a shard directory
    (the 100 TB knob) without changing content or manifest."""
    import glob
    import os

    from axonops_schema_registry_spark.llm.export import write_shards

    docs = load_table(spark, sf_dir, "documents") \
        .select("doc_id", "text").limit(120)
    out = str(tmp_path / "capped")
    m_cap = {r.shard_id: (r.n_docs, r.content_checksum)
             for r in write_shards(docs, out, n_shards=2,
                                   max_records_per_file=10).collect()}
    out2 = str(tmp_path / "uncapped")
    m_ref = {r.shard_id: (r.n_docs, r.content_checksum)
             for r in write_shards(docs, out2, n_shards=2).collect()}
    assert m_cap == m_ref
    for shard, (n, _) in m_cap.items():
        files = glob.glob(os.path.join(out, f"shard_id={shard}",
                                       "*.parquet"))
        assert len(files) >= n // 10  # cap actually rolled files


def test_percentile_approx_within_bound_of_exact(spark, sf_dir):
    """The 100 TB path for qs1: percentile_approx (Spark's mergeable
    one-pass sketch) stays within its accuracy contract of the exact
    sort-based percentile — at accuracy A the rank error is bounded
    by n/A, so with A=10000 and per-source n in the hundreds the
    sketch must return an exact order statistic adjacent to the true
    quantile."""
    from axonops_schema_registry_spark.queries import SPEC_BY_NAME

    exact = {r.source: (r.p50, r.p90, r.p99)
             for r in SPEC_BY_NAME["qs1_length_quantiles"]
             .build(spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents")
    approx = {r.source: (r.a50, r.a90, r.a99) for r in
              (docs.groupBy("source")
               .agg(F.expr("percentile_approx(n_chars, "
                           "array(0.5, 0.9, 0.99), 10000)").alias("a"))
               .selectExpr("source", "a[0] a50", "a[1] a90",
                           "a[2] a99")).collect()}
    # per-source spread bounds the worst interpolation gap: adjacent
    # order statistics differ by far less than 10% of the range
    for src, (p50, p90, p99) in exact.items():
        a50, a90, a99 = approx[src]
        for e, a in ((p50, a50), (p90, a90), (p99, a99)):
            assert abs(a - e) <= 0.1 * max(e, 1.0), (src, e, a)


def test_span_pipeline_randomized_cross_validation(spark):
    """30 random small corpora (seeded; heavy duplication forced by a
    tiny alphabet) through islands + cut in ONE Spark pass (word-
    salted per corpus so grams never collide across corpora), each
    corpus compared against the pure-Python reference — the fuzz net
    under the hand-picked fixtures."""
    import random

    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )

    rng = random.Random(20260815)
    k, min_count = 3, 2
    corpora = {}
    rows = []
    for c in range(30):
        docs = {}
        for d in range(rng.randint(1, 6)):
            n = rng.randint(0, 14)
            docs[d] = " ".join(
                f"w{rng.randint(0, 3)}_c{c}" for _ in range(n))
        corpora[c] = docs
        rows += [(c * 1000 + d, t) for d, t in docs.items()]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")

    got = {r.id: (r.n_words, r.n_removed, r.cleaned_text)
           for r in remove_duplicated_spans(
               df, "doc_id", "text", k=k,
               min_count=min_count).collect()}

    for c, docs in corpora.items():
        grams: dict = {}
        for d, t in docs.items():
            ws = t.split(" ")
            for i in range(len(ws) - k + 1):
                grams.setdefault(" ".join(ws[i:i + k]),
                                 []).append((d, i + 1))
        covered: dict = {d: set() for d in docs}
        for g, occ in grams.items():
            if len(occ) >= min_count:
                for d, p in occ:
                    covered[d].update(range(p, p + k))
        for d, t in docs.items():
            ws = t.split(" ")
            kept = [w for i, w in enumerate(ws, 1)
                    if i not in covered[d]]
            want = (len(ws), len(ws) - len(kept), " ".join(kept))
            assert got[c * 1000 + d] == want, (c, d, t)


def test_dsir_randomized_cross_validation(spark):
    """Randomized DSIR fuzz (seeded): 60 random docs over a tiny
    alphabet, a random target slice, 32 buckets (collisions certain)
    — exact equality against the pure-Python simulator."""
    import hashlib
    import math
    import random
    from decimal import ROUND_HALF_UP, Decimal

    from axonops_schema_registry_spark.llm.sampling import (
        dsir_log_weights,
    )

    rng = random.Random(99)
    K = 32
    texts = {d: " ".join(f"t{rng.randint(0, 9)}"
                         for _ in range(rng.randint(1, 20)))
             for d in range(60)}
    target = {d for d in texts if rng.random() < 0.25}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    tgt = spark.createDataFrame([(i,) for i in sorted(target)],
                                "doc_id bigint")

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:12], 16) % K

    doc_b: dict = {}
    for d, t in texts.items():
        ws = t.split(" ")
        feats = ws + [f"{a} {b}" for a, b in zip(ws, ws[1:])]
        cnts: dict = {}
        for f in feats:
            cnts[bucket(f)] = cnts.get(bucket(f), 0) + 1
        doc_b[d] = cnts
    raw: dict = {}
    tgt_c: dict = {}
    for d, cnts in doc_b.items():
        for b, c in cnts.items():
            raw[b] = raw.get(b, 0) + c
            if d in target:
                tgt_c[b] = tgt_c.get(b, 0) + c
    nr, nt = sum(raw.values()), sum(tgt_c.values())
    q = Decimal("0.000001")
    lr = {b: Decimal(repr((math.log(tgt_c.get(b, 0) + 1)
                           - math.log(nt + K))
                          - (math.log(cr + 1) - math.log(nr + K))))
          .quantize(q, ROUND_HALF_UP) for b, cr in raw.items()}
    want = {d: (sum(c.values()),
                float(sum(lr[b] * n for b, n in c.items())))
            for d, c in doc_b.items()}

    got = {r.doc_id: (r.n_feats, r.log_weight)
           for r in dsir_log_weights(docs, tgt,
                                     n_buckets=K).collect()}
    assert got == want


def test_remove_spans_min_span_words_threshold(spark):
    """The paper's length gate: with min_span_words above a short
    island's width the island survives; the default (None) cuts it.
    Pinned against the pure-Python reference with the gate applied."""
    from axonops_schema_registry_spark.llm.dedup import (
        remove_duplicated_spans,
    )

    k = 3
    # doc 1/2 share one 3-gram ("c d e") => island width exactly k;
    # doc 3/4 share a 6-word run => island width 6
    texts = {1: "a b c d e f",
             2: "x y c d e z",
             3: "p q r s t u extra1",
             4: "p q r s t u extra2"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id bigint, text string")
    gated = {r.id: r.n_removed
             for r in remove_duplicated_spans(
                 docs, "doc_id", "text", k=k, min_count=2,
                 min_span_words=5).collect()}
    # the 3-word shared phrase is below the gate — untouched
    assert gated[1] == 0 and gated[2] == 0
    # the 6-word run is above it — cut from all occurrences
    assert gated[3] == 6 and gated[4] == 6
    ungated = {r.id: r.n_removed
               for r in remove_duplicated_spans(
                   docs, "doc_id", "text", k=k,
                   min_count=2).collect()}
    assert ungated[1] == 3 and ungated[2] == 3


def test_decontamination_cut_randomized_cross_validation(spark):
    """Cross-corpus ExactSubstr fuzz (es3's operator): 20 random
    (train, eval) corpus pairs over a tiny alphabet in ONE Spark pass
    (word-salted per corpus), each compared against a pure-Python
    reference that flags train positions whose k-gram appears in eval
    and cuts merged islands — plus the hash_grams path pinned equal."""
    import random

    from axonops_schema_registry_spark.llm.dedup import (
        remove_contaminated_spans,
    )

    rng = random.Random(20260815)
    k = 3
    cases = {}
    train_rows, eval_rows = [], []
    for c in range(20):
        train = {d: " ".join(f"w{rng.randint(0, 3)}_c{c}"
                             for _ in range(rng.randint(0, 14)))
                 for d in range(rng.randint(1, 5))}
        ev = {d: " ".join(f"w{rng.randint(0, 3)}_c{c}"
                          for _ in range(rng.randint(0, 10)))
              for d in range(rng.randint(1, 3))}
        cases[c] = (train, ev)
        train_rows += [(c * 1000 + d, t) for d, t in train.items()]
        eval_rows += [(c * 1000 + d, t) for d, t in ev.items()]
    tdf = spark.createDataFrame(train_rows, "doc_id bigint, text string")
    edf = spark.createDataFrame(eval_rows, "doc_id bigint, text string")

    got = {r.id: (r.n_words, r.n_removed, r.cleaned_text)
           for r in remove_contaminated_spans(tdf, edf, k=k).collect()}
    hashed = {r.id: (r.n_words, r.n_removed, r.cleaned_text)
              for r in remove_contaminated_spans(
                  tdf, edf, k=k, hash_grams=True).collect()}
    assert hashed == got  # the 100 TB key form is output-identical

    for c, (train, ev) in cases.items():
        eval_grams = set()
        for t in ev.values():
            ws = t.split(" ")
            for i in range(len(ws) - k + 1):
                eval_grams.add(" ".join(ws[i:i + k]))
        for d, t in train.items():
            ws = t.split(" ")
            covered: set = set()
            for i in range(len(ws) - k + 1):
                if " ".join(ws[i:i + k]) in eval_grams:
                    covered.update(range(i + 1, i + 1 + k))
            kept = [w for i, w in enumerate(ws, 1) if i not in covered]
            want = (len(ws), len(ws) - len(kept), " ".join(kept))
            assert got[c * 1000 + d] == want, (c, d, t)
    # the fuzz actually exercises cuts somewhere
    assert any(v[1] > 0 for v in got.values())


def test_curation_pipeline_r12_surface(spark, sf_dir):
    """The r12 facade additions: robust length outliers, novelty,
    cluster-capped keep set, deterministic split, bigram-backoff
    perplexity — each delegating to its driver-verified operator."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    cp = CurationPipeline.from_sf_dir(spark, sf_dir)
    n = cp.docs.count()

    lo = cp.length_outliers()
    assert lo.count() == n
    assert {"robust_z", "is_len_outlier"} <= set(lo.columns)

    nov = cp.novelty()
    assert 0 < nov.count() <= n          # shingle-less docs absent
    bad = nov.filter((F.col("novelty") < 0) | (F.col("novelty") > 1))
    assert bad.count() == 0

    capped = cp.cluster_capped(k=2)
    per = capped.groupBy("cluster_id").count()
    assert per.agg(F.max("count")).first()[0] <= 2
    # softened vs hard dedup: keep-2 retains at least keep-1's rows
    assert capped.count() >= cp.deduplicated().count()

    sp = cp.split(train_milli=800, val_milli=100)
    assert sp.count() == n
    shares = dict(sp.groupBy("split").count().collect())
    assert set(shares) == {"train", "val", "test"}
    assert shares["train"] > shares["val"]
    assert shares["train"] > shares["test"]

    pb = cp.perplexity_bigram()
    assert {"n_tokens", "n_backoff", "mean_surprisal"} <= set(pb.columns)
    # held-out docs (id % 7 == 0) exist and some fall back
    assert pb.filter(F.col("n_backoff") > 0).count() > 0


def test_split_leakage_bloom_path_equals_broadcast(spark, sf_dir):
    """VERDICT r12 ask #7: the ctm4 bloom escalation is now a real
    switch, not a docstring promise — at a 30% test split (the
    too-big-to-broadcast scenario scaled down) the bloom-prefilter
    path must emit flags IDENTICAL to the exact broadcast path,
    including with a deliberately undersized bloom (saturation
    degrades pruning, never correctness)."""
    from axonops_schema_registry_spark.llm.contamination import (
        split_leakage_flags,
    )

    docs = load_table(spark, sf_dir, "documents")
    lab = docs.withColumn(
        "split", F.when(F.col("doc_id") % 10 < 3, "test")
        .otherwise("train"))
    exact = sorted(map(tuple, split_leakage_flags(lab).collect()))
    assert any(r[3] for r in exact), "fixture has no leakage to audit"
    # threshold below the test-split size → bloom path engages
    bloom = sorted(map(tuple, split_leakage_flags(
        lab, broadcast_threshold=10).collect()))
    assert bloom == exact
    # undersized bloom (256 bits for thousands of spans): saturates,
    # still exact
    tiny = sorted(map(tuple, split_leakage_flags(
        lab, broadcast_threshold=10, m_bits=1 << 8).collect()))
    assert tiny == exact
    # threshold above the test-split size → stays on the exact path
    big = sorted(map(tuple, split_leakage_flags(
        lab, broadcast_threshold=10_000_000).collect()))
    assert big == exact


def test_curation_pipeline_r13_surface(spark, sf_dir):
    """The r13 facade additions: temperature quotas (with the
    exact-budget top-up) and the split-leakage audit — each
    delegating to its driver-verified operator."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    cp = CurationPipeline.from_sf_dir(spark, sf_dir)

    q = cp.temperature_quotas(budget=100)
    qe = cp.temperature_quotas(budget=100, exact_budget=True)
    s, se = (df.agg(F.sum("quota")).first()[0] for df in (q, qe))
    assert se == 100
    assert 0 <= 100 - s < q.count()

    leak = cp.split_leakage()
    assert {"doc_id", "n_shared_spans", "n_test_docs",
            "leaked"} == set(leak.columns)
    # every audited row is a train doc; leaked implies shared spans
    n_train = cp.split().filter(F.col("split") == "train").count()
    assert leak.count() == n_train
    assert leak.filter(F.col("leaked")
                       & (F.col("n_shared_spans") <= 0)).count() == 0


def test_multiprobe_recall_dominates_single_probe(spark, sf_dir):
    """nn5's claim, pinned (new in r14): at EQUAL parameters the
    multi-probe candidate set is a structural superset of the
    single-probe one (the probe set contains the original bucket), so
    recall against the exact top-k can only rise — and the scale
    trade it buys (recall from query-side fan-out instead of more
    corpus-sized index tables) must actually materialize on this
    corpus: multi-probe at n_tables=1 must recall at least as much as
    single-probe at n_tables=1, and the candidate pool must genuinely
    grow (otherwise the probes are dead code)."""
    from axonops_schema_registry_spark.llm.similarity import (
        _portable_buckets,
        _portable_planes,
        cosine_topk,
        lsh_ann_topk_portable,
        multiprobe_lsh_ann_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    corpus = emb.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("corpus_vec"))

    exact = {(r.query_id, r.corpus_id)
             for r in cosine_topk(queries, corpus, k=5).collect()}

    def recall_and_cands(fn, n_tables):
        top = {(r.query_id, r.corpus_id)
               for r in fn(queries, corpus, k=5,
                           n_tables=n_tables).collect()}
        return len(top & exact) / len(exact), top

    for n_tables in (1, 2):
        r_single, _ = recall_and_cands(lsh_ann_topk_portable, n_tables)
        r_multi, _ = recall_and_cands(multiprobe_lsh_ann_topk, n_tables)
        assert r_multi >= r_single, (
            f"multi-probe recall {r_multi:.2f} < single-probe "
            f"{r_single:.2f} at n_tables={n_tables} — the superset "
            "property broke")

    # candidate pools, measured through the real bucket path: the
    # Hamming-1 probes must add candidates on this corpus
    planes = _portable_planes(corpus, 5, 1, 10)
    qb = _portable_buckets(queries, "query_id", "query_vec", planes)
    cb = _portable_buckets(corpus, "corpus_id", "corpus_vec", planes)
    single = qb.join(cb, ["table", "bucket"]) \
        .select("query_id", "corpus_id").distinct().count()
    probe_set = F.array(F.col("bucket"),
                        *[F.col("bucket").bitwiseXOR(F.lit(1 << b))
                          for b in range(5)])
    multi = (qb.select("query_id", "table",
                       F.explode(probe_set).alias("bucket"))
             .join(cb, ["table", "bucket"])
             .select("query_id", "corpus_id").distinct().count())
    assert multi > single, (
        f"multi-probe candidates ({multi}) did not exceed single-probe "
        f"({single}) — probes are dead code on this corpus")

    # the ev4-vs-ev2 row-for-row form of the same guarantee (the ev4
    # docstring points here): per query, multi-probe recall@5 never
    # drops below single-probe recall@5 at the specs' parameters
    from axonops_schema_registry_spark.queries.llm_queries import (
        ev2_lsh_recall,
        ev4_multiprobe_recall,
    )

    e2 = {r.query_id: r.n_overlap
          for r in ev2_lsh_recall(spark, sf_dir).collect()}
    e4 = {r.query_id: r.n_overlap
          for r in ev4_multiprobe_recall(spark, sf_dir).collect()}
    assert set(e4) == set(e2)
    worse = [q for q in e2 if e4[q] < e2[q]]
    assert not worse, f"multi-probe recall dropped for queries {worse}"


def test_zipf_diagnostics_matches_pure_python_reference(spark):
    """zf1 replay on a PLANTED spectrum (the oracle-shared-logic
    guard: Spark and DuckDB both implement the same OLS formula, so
    a shared algebra mistake would pass the cross-engine oracle —
    this pure-Python third leg computes the quantized OLS
    independently).  Two sources: a geometric spectrum (counts
    2^k — steep, slope « -1) and a flat one (all counts equal —
    ln(freq) constant, slope exactly 0), plus the mass/vocab
    columns checked exactly."""
    import math

    from axonops_schema_registry_spark.llm.text import zipf_diagnostics

    geo = " ".join(" ".join([f"t{k}"] * (2 ** (5 - k)))
                   for k in range(6))          # counts 32,16,8,4,2,1
    flat = " ".join(f"u{k}" for k in range(10))  # all counts 1
    docs = spark.createDataFrame(
        [(1, geo, "geo"), (2, flat, "flat")],
        "doc_id bigint, text string, source string")
    got = {r.source: r for r in zipf_diagnostics(docs).collect()}

    def ref_slope(counts):
        pts = [(math.floor(math.log(i + 1) * 1e6),
                math.floor(math.log(c) * 1e6))
               for i, c in enumerate(counts)]
        n = len(pts)
        sx = sum(x for x, _ in pts); sy = sum(y for _, y in pts)
        sxy = sum(x * y for x, y in pts)
        sxx = sum(x * x for x, _ in pts)
        return (n * sxy - sx * sy) / (n * sxx - sx * sx)

    g = got["geo"]
    assert g.vocab_size == 6 and g.n_ranks == 6
    assert g.topk_mass_per_mille == 1000
    assert repr(g.zipf_slope) == repr(ref_slope([32, 16, 8, 4, 2, 1]))
    assert g.zipf_slope < -1.0  # geometric decay is steeper than Zipf

    f = got["flat"]
    assert f.vocab_size == 10 and f.n_ranks == 10
    assert f.topk_mass_per_mille == 1000
    assert f.zipf_slope == 0.0  # ln(1)=0 everywhere -> exactly flat


def test_line_dedup_keep_first_policy(spark):
    """Planted corpus pins the CCNet keep-first semantics: the first
    (doc_id, block_idx) copy of a duplicated block survives, every
    later copy is cut; sub-min_block_words blocks are never
    dedup-keyed; a doc made entirely of earlier text empties out."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup

    blk_a = "a1 a2 a3 a4 a5"            # 5 words: eligible
    blk_b = "b1 b2 b3 b4 b5"
    short = "s1 s2"                      # 2 words: gated, never keyed
    df = spark.createDataFrame(
        [(1, f"{blk_a} {blk_b}"),        # blocks: [a+b] (one 10-word)
         (2, f"{blk_a} {blk_b}"),        # exact copy -> fully removed
         (3, f"{blk_b} {blk_a}"),        # different block text: kept
         (4, f"{blk_a} {blk_b} {short}"),  # block1 dup, short tail kept
         (5, short)],                    # short-only doc: kept
        "doc_id bigint, text string")
    rows = {r.id: r for r in
            line_dedup(df, "doc_id", "text", block_words=10,
                       min_block_words=5).collect()}
    assert rows[1].n_removed == 0 and rows[1].cleaned_text == \
        f"{blk_a} {blk_b}"
    assert rows[2].n_removed == 1 and rows[2].cleaned_text == ""
    assert rows[3].n_removed == 0          # reordered words != same block
    assert rows[4].n_removed == 1 and rows[4].cleaned_text == short
    assert rows[5].n_removed == 0 and rows[5].cleaned_text == short
    # same short block in two docs: gated from dedup, both survive
    df2 = spark.createDataFrame(
        [(1, short), (2, short)], "doc_id bigint, text string")
    rows2 = {r.id: r for r in line_dedup(df2, "doc_id", "text").collect()}
    assert rows2[1].n_removed == 0 and rows2[2].n_removed == 0


def test_line_dedup_packed_order_bounds_fail_loudly(spark):
    """The packed-BIGINT election order is GUARDED, not just
    documented (ADVICE r14): an id at/above 2^43 (or negative) raises
    at execution instead of silently electing in packed-value order;
    in-bounds ids right at the edge still work."""
    import pytest
    from axonops_schema_registry_spark.llm.dedup import line_dedup

    blk = "a1 a2 a3 a4 a5"
    for bad_id in (1 << 43, -1):
        df = spark.createDataFrame(
            [(bad_id, blk), (7, blk)], "doc_id bigint, text string")
        with pytest.raises(Exception, match="out of bounds"):
            line_dedup(df, "doc_id", "text").collect()
    edge = (1 << 43) - 1                 # largest legal id: fine
    df = spark.createDataFrame(
        [(edge, blk), (7, blk)], "doc_id bigint, text string")
    rows = {r.id: r for r in line_dedup(df, "doc_id", "text").collect()}
    assert rows[7].n_removed == 0 and rows[edge].n_removed == 1


def test_line_dedup_hashed_twin_identical(spark, sf_dir):
    """The xxhash64 narrow-key form (the 100 TB shuffle trade, es1h's
    contract) is pinned output-identical on the fixture corpus."""
    from axonops_schema_registry_spark.llm.dedup import line_dedup

    docs = load_table(spark, sf_dir, "documents")
    raw = line_dedup(docs, "doc_id", "text")
    hashed = line_dedup(docs, "doc_id", "text", hash_blocks=True)
    assert raw.exceptAll(hashed).isEmpty()
    assert hashed.exceptAll(raw).isEmpty()


def test_gram_key_profile_matches_python_counter(spark, sf_dir):
    """gram_key_profile replayed by a pure-Python Counter over the
    fixture corpus — rank order (count desc, gram asc), exact ppm
    integer division, and the corpus totals on every row."""
    from collections import Counter

    from axonops_schema_registry_spark.llm.dedup import gram_key_profile

    docs = load_table(spark, sf_dir, "documents")
    got = gram_key_profile(docs, "doc_id", "text", k=8,
                           top_n=20).orderBy("rank").collect()
    cnt: Counter[str] = Counter()
    for r in docs.select("text").collect():
        ws = r.text.split(" ")
        for i in range(len(ws) - 7):
            cnt[" ".join(ws[i:i + 8])] += 1
    total = sum(cnt.values())
    expect = sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    assert len(got) == 20
    for row, (gram, n) in zip(got, expect):
        assert row.gram_text == gram and row.n_occurrences == n
        assert row.ppm == (1_000_000 * n) // total
        assert row.n_positions == total
        assert row.n_distinct_grams == len(cnt)


def test_cluster_assignments_planted(spark):
    """Vectors that ARE centroids assign to themselves (cosine 1.0);
    a vector nearer centroid B than A gets B; an exact tie (equal
    rounded cosine) breaks to the smaller centroid id."""
    from axonops_schema_registry_spark.llm.similarity import (
        cluster_assignments,
    )

    rows = [
        (0, [1.0, 0.0]),           # centroid (0 % 3 == 0)
        (3, [0.0, 1.0]),           # centroid
        (1, [0.9, 0.1]),           # near centroid 0
        (2, [0.1, 0.9]),           # near centroid 3
        (4, [1.0, 1.0]),           # equidistant: tie -> centroid 0
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {r.id: r.centroid_id
           for r in cluster_assignments(df, "vec_id", "embedding",
                                        centroid_stride=3,
                                        max_centroids=8).collect()}
    assert got == {0: 0, 3: 3, 1: 0, 2: 3, 4: 0}


def test_temperature_quotas_mass_col_matches_classic_path(spark, sf_dir):
    """The pre-aggregated mass_col path (sem2's one-pass hook) is
    pinned quota-identical to the classic corpus-scan path on the
    fixture corpus — the shared quota math cannot drift between its
    two entry points."""
    from axonops_schema_registry_spark.llm.sampling import (
        temperature_quotas,
    )

    docs = load_table(spark, sf_dir, "documents")
    for exact in (False, True):
        classic = temperature_quotas(docs, 200,
                                     exact_budget=exact).collect()
        mass = (docs.groupBy("source")
                .agg(F.sum(F.size(F.split(F.col("text"), " "))
                           .cast("bigint")).alias("m")))
        pre = temperature_quotas(mass, 200, mass_col="m",
                                 exact_budget=exact).collect()
        assert sorted(map(tuple, classic)) == sorted(map(tuple, pre))


def test_lsh_bucket_profile_replay_and_planted(spark, sf_dir):
    """kd2's aggregation pinned two ways: (a) structurally against a
    pure-Python replay over minhash_band_buckets' own output on the
    fixture corpus (the banding itself is pinned by the dd2 suites);
    (b) a planted corpus of 5 identical docs must surface a bucket of
    occupancy 5 (= 10 candidate pairs) at rank 1 in every stat."""
    from collections import Counter

    from axonops_schema_registry_spark.llm.dedup import (
        lsh_bucket_profile,
        minhash_band_buckets,
    )
    from axonops_schema_registry_spark.operators.text import token_arrays

    docs = load_table(spark, sf_dir, "documents")
    got = lsh_bucket_profile(docs, "doc_id", "text",
                             top_n=20).orderBy("rank").collect()
    arrs = token_arrays(docs, "doc_id", "text", 3)
    occ = Counter()
    for r in minhash_band_buckets(arrs, 64, 16).collect():
        occ[(r.band, r.key)] += 1
    pairs = {bk: n * (n - 1) // 2 for bk, n in occ.items()}
    total_pairs = sum(pairs.values())
    expect = sorted(pairs.items(),
                    key=lambda kv: (-kv[1], kv[0]))[:20]
    assert len(got) == len(expect[:20])
    for row, ((band, key), np_) in zip(got, expect):
        assert (row.band, row.key) == (band, key)
        assert row.n_pairs == np_
        assert row.pairs_ppm == (1_000_000 * np_) // total_pairs \
            if total_pairs else row.pairs_ppm == 0
        assert row.n_buckets == len(occ)
        assert row.n_memberships == sum(occ.values())
        assert row.total_candidate_pairs == total_pairs
        assert row.max_occupancy == max(occ.values())

    planted = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta")
         for i in range(5)]
        + [(9, "iota kappa lambda mu nu xi omicron pi")],
        "doc_id bigint, text string")
    top = lsh_bucket_profile(planted, "doc_id", "text",
                             top_n=3).orderBy("rank").first()
    assert top.n_members == 5 and top.n_pairs == 10
    assert top.max_occupancy == 5


def test_zipf_diagnostics_single_token_source_null_slope(spark):
    """A source whose corpus is one distinct token (the monoculture
    zf1 exists to flag) has ONE rank — the OLS denominator is zero
    and the slope must come back NULL, not raise DIVIDE_BY_ZERO
    under the session's ANSI mode (self-review r14)."""
    from axonops_schema_registry_spark.llm.text import zipf_diagnostics

    df = spark.createDataFrame(
        [(1, "spam spam spam spam", "mono"),
         (2, "spam spam", "mono"),
         (3, "a b c d e f g", "healthy")],
        "doc_id bigint, text string, source string")
    rows = {r.source: r for r in zipf_diagnostics(df).collect()}
    assert rows["mono"].n_ranks == 1
    assert rows["mono"].zipf_slope is None
    assert rows["mono"].topk_mass_per_mille == 1000
    assert rows["healthy"].zipf_slope is not None


def test_near_split_leakage_never_fabricates_from_val(spark):
    """An UNFILTERED labeled corpus (val rows still present) must not
    surface a val document as train_id or test_id: pairs touching a
    non-train/test label are dropped on the pair set (self-review
    r14 — previously the when/otherwise normalization could report a
    test doc as train_id for a val-test pair)."""
    from axonops_schema_registry_spark.llm.contamination import (
        near_split_leakage,
    )

    t = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, t, "train"), (2, t, "test"), (3, t, "val")],
        "doc_id bigint, text string, split string")
    rows = near_split_leakage(df).collect()
    # only the genuine train-test pair survives: train 1 leaks to
    # test 2; the val twin (3) creates pairs with both but none may
    # surface
    assert len(rows) == 1
    assert rows[0].train_id == 1 and rows[0].n_test_neighbors == 1


def test_line_decontaminate_planted(spark):
    """ln2 semantics pinned: a train block matching an eval block is
    cut (ALL train occurrences — eval is the authority, there is no
    keep-first); short blocks are never keyed; eval docs are not in
    the output; a train doc made entirely of eval text empties."""
    from axonops_schema_registry_spark.llm.dedup import (
        line_decontaminate,
    )

    blk_e = "e1 e2 e3 e4 e5"
    blk_t = "t1 t2 t3 t4 t5"
    short = "s1 s2"
    train = spark.createDataFrame(
        [(1, f"{blk_e} {blk_t}"),      # one 10-word block != eval block
         (2, blk_e),                    # exact eval block -> emptied
         (3, f"{blk_t} {short}"),       # untouched + short tail kept
         (4, short)],                    # short-only: never keyed
        "doc_id bigint, text string")
    ev = spark.createDataFrame(
        [(100, blk_e), (101, short)],   # short eval block cuts nothing
        "doc_id bigint, text string")
    rows = {r.id: r for r in line_decontaminate(train, ev).collect()}
    assert set(rows) == {1, 2, 3, 4}
    assert rows[1].n_removed == 0          # 10-word block, not eval's 5
    assert rows[2].n_removed == 1 and rows[2].cleaned_text == ""
    assert rows[3].n_removed == 0 and rows[3].cleaned_text == \
        f"{blk_t} {short}"
    assert rows[4].n_removed == 0 and rows[4].cleaned_text == short


@pytest.mark.slow  # driver-window opt-in (pytest.ini)
def test_line_dedup_seeded_fuzz_vs_python_reference(spark):
    """20 seeded random corpora replayed by a pure-Python reference
    (the es3 fuzz convention): keep-first election over fixed-width
    blocks, short-block gate, reassembly — bit-identical on every
    corpus."""
    import random

    from axonops_schema_registry_spark.llm.dedup import line_dedup

    vocab = [f"w{i}" for i in range(12)]
    for seed in range(20):
        rng = random.Random(seed)
        docs = []
        for doc_id in range(30):
            n = rng.randint(0, 35)
            words = [rng.choice(vocab) for _ in range(n)]
            docs.append((doc_id, " ".join(words)))
        bw, mn = rng.choice([(4, 2), (5, 3), (10, 5)])

        expect = {}
        seen: dict[str, tuple[int, int]] = {}
        blocks_of = {}
        for doc_id, text in docs:
            ws = text.split(" ")
            blocks = [ws[i:i + bw] for i in range(0, len(ws), bw)]
            blocks_of[doc_id] = blocks
            for idx, b in enumerate(blocks, start=1):
                if len(b) >= mn:
                    seen.setdefault(" ".join(b), (doc_id, idx))
        for doc_id, text in docs:
            kept = []
            removed = 0
            for idx, b in enumerate(blocks_of[doc_id], start=1):
                bt = " ".join(b)
                if len(b) >= mn and seen[bt] != (doc_id, idx):
                    removed += 1
                else:
                    kept.append(bt)
            expect[doc_id] = (len(blocks_of[doc_id]), removed,
                              " ".join(kept))

        df = spark.createDataFrame(docs, "doc_id bigint, text string")
        got = {r.id: (r.n_blocks, r.n_removed, r.cleaned_text)
               for r in line_dedup(df, "doc_id", "text",
                                   block_words=bw,
                                   min_block_words=mn).collect()}
        assert got == expect, f"seed {seed} (bw={bw}, min={mn})"


def test_curation_pipeline_r14_surface(spark, sf_dir):
    """The r14 operators are reachable from the facade and agree with
    their spec twins (one cheap invariant each — the full semantics
    are pinned by the dedicated tests above)."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    p = CurationPipeline.from_sf_dir(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")

    ld = p.line_deduplicated()
    assert ld.columns == ["id", "n_blocks", "n_removed", "cleaned_text"]
    assert ld.count() == p.docs.count()

    ev = p.docs.filter(F.col("source") == "src1")
    tr = CurationPipeline(p.docs.filter(F.col("source") != "src1"))
    lc = tr.line_decontaminated(ev)
    assert lc.count() == tr.docs.count()

    ks = p.key_skew_profile(top_n=5)
    assert ks.count() == 5 and ks.columns[0] == "rank"

    bs = p.bucket_skew_profile(top_n=5)
    assert bs.count() == 5 and "max_occupancy" in bs.columns

    cm = p.cluster_mixture(emb, budget=300)
    rows = cm.collect()
    assert sum(r.quota for r in rows) <= 300
    assert {c for c in cm.columns} == {"cluster", "n_docs",
                                       "token_mass", "weight", "quota"}


def test_encoding_scan_planted(spark):
    """encoding_scan counts every BAD_CHARS occurrence and flags a doc
    once regardless of how many bad chars it carries; clean sources
    report zeros."""
    from axonops_schema_registry_spark.llm.text import encoding_scan

    df = spark.createDataFrame(
        [(1, "clean text here", "a"),
         (2, "mojibake �� twice", "a"),
         (3, "bel \x07 and zwsp ​", "a"),
         (4, "spotless", "b")],
        "doc_id bigint, text string, source string")
    rows = {r.source: r for r in encoding_scan(df).collect()}
    assert rows["a"].n_docs == 3 and rows["a"].n_flagged == 2
    assert rows["a"].n_bad_chars == 4          # 2 + (1 BEL + 1 ZWSP)
    assert rows["a"].flagged_per_mille == 666
    assert rows["b"].n_flagged == 0 and rows["b"].n_bad_chars == 0


def test_parse_video_header_round_trip_and_rejection():
    """mm6's kernel pinned in pure Python: synthesizer→parser round
    trip across both containers and brand/field cycles, plus strict
    rejection of truncation, bad box sizes, and non-video payloads
    (the parse_media_header convention)."""
    import pytest as _pytest

    from axonops_schema_registry_spark.llm.multimodal import (
        parse_video_header,
        synthesize_video_payload,
    )

    for did in (0, 1, 2, 3, 5, 31, 32, 100, 999, 4321):
        p = synthesize_video_payload(did)
        r = parse_video_header(p)
        if did % 2 == 0:
            assert r["container"] == "mp4"
            assert r["brand"] == ("isom", "mp42", "avc1")[did % 3]
            assert r["timescale"] == 600 * (1 + did % 4)
            assert r["duration_ticks"] == did % 100000
            assert r["n_frames"] is None
        else:
            assert r["container"] == "avi"
            assert r["usec_per_frame"] == 1_000_000 // (10 + did % 50)
            assert r["n_frames"] == did % 5000
            assert (r["width"], r["height"]) == (did % 1920 + 1,
                                                 did % 1080 + 1)
            assert r["timescale"] is None
        assert r["n_bytes"] == len(p)

    bad_payloads = (
        b"",                                    # empty
        b"\x00" * 20,                           # junk
        b"RIFF\x10\x00\x00\x00WAVE",            # RIFF but not AVI
        synthesize_video_payload(0)[:-5],       # truncated mp4
        synthesize_video_payload(1)[:-3],       # truncated avi
        b"RIFF\xff\xff\xff\xffAVI ",            # lying RIFF size
        b"\x00\x00\x00\x08ftypisom",            # ftyp too small
    )
    for bad in bad_payloads:
        with _pytest.raises(ValueError):
            parse_video_header(bad)


def test_ccnet_pipeline_stage_monotonicity(spark, sf_dir):
    """ccn1's composition seams: every stage only narrows its input
    (lang gate ⊇ dedup survivors ⊇ head+middle ⊇ quality ⊇ mixture),
    the quality rank gate selects exactly min(100, pool), the mixture
    is a rank-prefix within budget, and src0 (the reference slice)
    survives to the fit stage."""
    from axonops_schema_registry_spark.queries.llm_queries import (
        ccn1_ccnet_pipeline,
    )

    rows = ccn1_ccnet_pipeline(spark, sf_dir).collect()
    assert rows, "pipeline emitted nothing"
    for r in rows:
        assert r.n_lang <= r.n_docs
        assert r.n_dedup <= r.n_lang
        assert r.n_head_middle <= r.n_dedup
        assert r.n_quality <= r.n_head_middle
        assert r.n_selected <= r.n_quality
        assert r.tokens_selected <= 120
        assert r.max_rank == r.n_selected, \
            "mixture selection must be the rank-prefix of hash order"
    assert sum(r.n_quality for r in rows) == \
        min(100, sum(r.n_head_middle for r in rows))
    src0 = next(r for r in rows if r.source == "src0")
    assert src0.n_head_middle > 0, "reference slice lost before fit"


def test_ccnet_curated_facade_matches_spec_receipt(spark, sf_dir):
    """CurationPipeline.ccnet_curated (the doc-level output of the
    ccn1 chain) must agree with the ccn1 spec's per-source receipt on
    every shared aggregate — same stages, two views."""
    from pyspark.sql import functions as F

    from axonops_schema_registry_spark.catalog import load_table
    from axonops_schema_registry_spark.llm import CurationPipeline
    from axonops_schema_registry_spark.queries.llm_queries import (
        ccn1_ccnet_pipeline,
    )

    docs = load_table(spark, sf_dir, "documents")
    pos = docs.filter(F.col("source") == "src0").select("doc_id")
    manifest = CurationPipeline(docs).ccnet_curated(pos)
    got = {r.source: (r.n, r.ids, r.toks, r.rank)
           for r in manifest.groupBy("source")
           .agg(F.count(F.lit(1)).alias("n"),
                F.sum("doc_id").alias("ids"),
                F.max("cum_tokens").alias("toks"),
                F.max("mix_rank").alias("rank")).collect()}
    want = {r.source: (r.n_selected, r.id_checksum,
                       r.tokens_selected, r.max_rank)
            for r in ccn1_ccnet_pipeline(spark, sf_dir).collect()
            if r.n_selected}
    assert got == want


def test_ccnet_curated_empty_gate_is_empty_not_an_error(spark):
    """A corpus where nothing passes the language gate (no stopwords
    anywhere → predicted 'unknown') must flow through all six stages
    as empty frames and return an empty manifest — not raise in the
    perplexity window, the classifier fit (empty positive slice), or
    the mixture."""
    from axonops_schema_registry_spark.llm import CurationPipeline

    docs = spark.createDataFrame(
        [(i, f"zz{i}a zz{i}b zz{i}c zz{i}d", "s0") for i in range(4)],
        "doc_id bigint, text string, source string")
    pos = docs.select("doc_id")
    got = CurationPipeline(docs).ccnet_curated(pos)
    assert got.count() == 0
    assert {"doc_id", "source", "text",
            "mix_rank", "cum_tokens"} <= set(got.columns)


def test_ccnet_receipt_error_path_joins_its_worker_thread(spark,
                                                          monkeypatch):
    """ccnet_receipt overlaps one receipt aggregate on a worker thread;
    an exception from the chain around it must propagate AND leave no
    executor thread behind."""
    import threading

    import axonops_schema_registry_spark.llm.text as text_mod
    from axonops_schema_registry_spark.llm.ccnet import ccnet_receipt

    def boom(*_a, **_k):
        raise RuntimeError("perplexity failed")

    def workers():
        return {t for t in threading.enumerate() if t.is_alive()
                and t.name.startswith("ThreadPoolExecutor")}

    docs = spark.createDataFrame(
        [(i, f"src{i % 2}",
          f"the d{i}a of d{i}b and d{i}c to d{i}d the d{i}e")
         for i in range(8)], "doc_id bigint, source string, text string")
    monkeypatch.setattr(text_mod, "perplexity_buckets", boom)
    before = workers()
    with pytest.raises(RuntimeError, match="perplexity failed"):
        ccnet_receipt(docs)
    assert workers() - before == set()
