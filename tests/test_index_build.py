import json
import os

from pyspark.sql import functions as F


def test_stats_match_oracle(spark, corpus, built_index):
    from tests.oracle import OracleIndex

    docs = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    oracle = OracleIndex(docs)

    assert built_index.n_docs == oracle.n_docs
    assert built_index.total_tokens == sum(oracle.doclen.values())
    assert abs(built_index.avgdl - oracle.avgdl) < 1e-9
    assert built_index.n_terms == len(oracle.df)


def test_dictionary_df_cf(spark, corpus, built_index):
    from miru_spark.index.reader import IndexReader
    from tests.oracle import OracleIndex

    docs = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    oracle = OracleIndex(docs)
    reader = IndexReader(spark, built_index.index_dir)
    rows = reader.dictionary().collect()
    assert len(rows) == len(oracle.df)
    cf_oracle = {}
    for d, c in oracle.tf.items():
        for t, n in c.items():
            cf_oracle[t] = cf_oracle.get(t, 0) + n
    for r in rows:
        assert r["df"] == oracle.df[r["term"]], r["term"]
        assert r["cf"] == cf_oracle[r["term"]], r["term"]


def test_postings_roundtrip_exact(spark, corpus, built_index):
    """Decoded postings == exploded tf table, byte-for-byte."""
    from miru_spark.index.reader import IndexReader

    reader = IndexReader(spark, built_index.index_dir)
    decoded = reader.postings().orderBy("term", "doc_id").collect()

    from tests.oracle import OracleIndex

    docs = {r["doc_id"]: r["text"] for r in corpus.select("doc_id", "text").collect()}
    oracle = OracleIndex(docs)
    expected = []
    for d in sorted(oracle.tf):
        for t, n in oracle.tf[d].items():
            expected.append((t, d, n, oracle.doclen[d]))
    expected.sort()
    got = [(r["term"], r["doc_id"], r["tf"], r["doclen"]) for r in decoded]
    assert got == expected


def test_block_headers(spark, built_index):
    from miru_spark.index.reader import IndexReader

    reader = IndexReader(spark, built_index.index_dir)
    blocks = reader.blocks().collect()
    assert blocks
    block_size = 1 << built_index.block_bits
    for blk in blocks:
        assert blk["n"] >= 1
        lo = blk["block_key"] * block_size
        assert lo <= blk["max_doc_id"] < lo + block_size


def test_manifests_and_stats_file(built_index):
    stats = json.load(open(os.path.join(built_index.index_dir, "stats.json")))
    assert stats["n_docs"] == built_index.n_docs
    mdir = os.path.join(built_index.index_dir, "manifests")
    manifests = sorted(os.listdir(mdir))
    assert len(manifests) == built_index.n_shards
    # global fingerprint = '|'-joined per-shard "shard:fp" components
    shard_fps = {
        int(s): rest
        for s, rest in (
            comp.split(":", 1) for comp in built_index.input_fingerprint.split("|")
        )
    }
    for name in manifests:
        m = json.load(open(os.path.join(mdir, name)))
        assert m["status"] == "done"
        assert m["input_fingerprint"] == shard_fps[m["shard"]]


def test_term_filter_pushdown(spark, built_index):
    """The term predicate must reach the parquet scan (PushedFilters)."""
    from miru_spark.index.reader import IndexReader

    reader = IndexReader(spark, built_index.index_dir)
    plan = reader.blocks(terms=["w00001"])._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "w00001" in plan


def test_assign_doc_ids_deterministic(spark, corpus):
    from miru_spark.index.builder import assign_doc_ids

    df = corpus.drop("doc_id")
    a = assign_doc_ids(df, "url", partitions=5).select("url", "doc_id").collect()
    b = assign_doc_ids(df, "url", partitions=5).select("url", "doc_id").collect()
    assert sorted(a) == sorted(b)
    by_url = sorted((r["url"], r["doc_id"]) for r in a)
    ids = [d for _, d in by_url]
    assert ids == list(range(len(ids)))  # dense, in url order


def test_crash_resume_identical(spark, corpus, tmp_path):
    """Interrupted build -> re-run skips done shards and the final index is
    identical to an uninterrupted build (BASELINE resume target)."""
    import pytest

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    build_index(spark, corpus, a_dir, n_shards=3, block_bits=7, overwrite=True)

    with pytest.raises(RuntimeError, match="simulated crash"):
        build_index(
            spark, corpus, b_dir, n_shards=3, block_bits=7,
            overwrite=True, fail_after_shard=0,
        )
    # resume: shard 0 must be skipped (manifest timestamp preserved)
    import json
    import os

    m0 = json.load(open(os.path.join(b_dir, "manifests", "shard_00000.json")))
    meta_b = build_index(spark, corpus, b_dir, n_shards=3, block_bits=7)
    m0_after = json.load(open(os.path.join(b_dir, "manifests", "shard_00000.json")))
    assert m0 == m0_after  # untouched -> was skipped, not rebuilt

    ra, rb = IndexReader(spark, a_dir), IndexReader(spark, b_dir)
    assert ra.stats == rb.stats | {"input_fingerprint": ra.stats["input_fingerprint"]}
    da = {(r["term"], r["df"], r["cf"]) for r in ra.dictionary().collect()}
    db = {(r["term"], r["df"], r["cf"]) for r in rb.dictionary().collect()}
    assert da == db
    pa = sorted(
        (r["term"], r["doc_id"], r["tf"]) for r in ra.postings().collect()
    )
    pb = sorted(
        (r["term"], r["doc_id"], r["tf"]) for r in rb.postings().collect()
    )
    assert pa == pb


def test_build_from_html_matches_text(spark, corpus, tmp_path):
    """input_hint invariant: indexing extract_text(html) is byte-identical
    to indexing the text column (per-url deterministic extraction)."""
    from miru_spark.analysis.tokenizer import extract_text_udf
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    from_html = corpus.select(
        "doc_id", extract_text_udf(F.col("html")).alias("text")
    )
    a = str(tmp_path / "from_text")
    b = str(tmp_path / "from_html")
    build_index(spark, corpus, a, n_shards=2, block_bits=7, overwrite=True)
    build_index(spark, from_html, b, n_shards=2, block_bits=7, overwrite=True)
    ra, rb = IndexReader(spark, a), IndexReader(spark, b)
    assert ra.stats["total_tokens"] == rb.stats["total_tokens"]
    da = {(r["term"], r["df"], r["cf"]) for r in ra.dictionary().collect()}
    db = {(r["term"], r["df"], r["cf"]) for r in rb.dictionary().collect()}
    assert da == db


def test_incremental_append_skips_existing_shards(spark, corpus, tmp_path):
    """Fixed shard spans + per-shard fingerprints: appending new docs
    re-runs the build touching ONLY the new shards; existing shard
    manifests are byte-identical and the result equals a fresh build."""
    import json

    from pyspark.sql import functions as F

    from miru_spark.index.builder import build_index
    from miru_spark.index.manifest import manifest_path
    from miru_spark.index.reader import IndexReader
    from miru_spark.query import bm25

    first = corpus.filter(F.col("doc_id") < 256)
    out = str(tmp_path / "idx_inc")
    build_index(spark, first, out, block_bits=7, shard_span_blocks=1, overwrite=True)
    m0_before = open(manifest_path(out, 0)).read()
    n_manifests_before = len(json.loads(m0_before) and __import__("os").listdir(
        __import__("os").path.join(out, "manifests")))

    # append: docs 256.. (new shards only)
    build_index(spark, corpus, out, block_bits=7, shard_span_blocks=1)
    assert open(manifest_path(out, 0)).read() == m0_before  # shard 0 untouched
    assert len(__import__("os").listdir(__import__("os").path.join(out, "manifests"))) > n_manifests_before

    fresh = str(tmp_path / "idx_fresh")
    build_index(spark, corpus, fresh, block_bits=7, shard_span_blocks=1, overwrite=True)
    ra, rb = IndexReader(spark, out), IndexReader(spark, fresh)
    assert ra.stats == rb.stats
    da = {(r["term"], r["df"], r["cf"]) for r in ra.dictionary().collect()}
    db = {(r["term"], r["df"], r["cf"]) for r in rb.dictionary().collect()}
    assert da == db
    qa = bm25.search(ra, "w00001 AND w00004", k=10).collect()
    qb = bm25.search(rb, "w00001 AND w00004", k=10).collect()
    assert [(r["doc_id"], r["score"]) for r in qa] == [(r["doc_id"], r["score"]) for r in qb]


def test_bounded_waves_match_single_wave(spark, corpus, tmp_path):
    """max_wave_shards splits the build into several jobs; the result is
    identical to the single-wave build."""
    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    a = str(tmp_path / "idx_waved")
    b = str(tmp_path / "idx_onewave")
    build_index(spark, corpus, a, block_bits=7, shard_span_blocks=1,
                max_wave_shards=2, overwrite=True)
    build_index(spark, corpus, b, block_bits=7, shard_span_blocks=1, overwrite=True)
    ra, rb = IndexReader(spark, a), IndexReader(spark, b)
    assert ra.stats == rb.stats
    da = {(r["term"], r["df"], r["cf"]) for r in ra.dictionary().collect()}
    db = {(r["term"], r["df"], r["cf"]) for r in rb.dictionary().collect()}
    assert da == db


def test_truncated_corpus_rebuild_drops_vanished_docs(spark, corpus, tmp_path):
    """A shard whose doc range empties (or vanishes from the layout) on
    rebuild must not keep serving its old postings; stats must track the
    shrunken corpus (ADVICE r01: stale 'done'-with-empty-fp manifests left
    data partitions behind)."""
    from pyspark.sql import functions as F

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    out = str(tmp_path / "idx_trunc")
    build_index(spark, corpus.filter(F.col("doc_id") < 512), out,
                block_bits=7, shard_span_blocks=1, overwrite=True)
    # truncate to the first shard's range only (block 0 = ids 0..127)
    truncated = corpus.filter(F.col("doc_id") < 128)
    build_index(spark, truncated, out, block_bits=7, shard_span_blocks=1)
    r = IndexReader(spark, out)
    n_expect = truncated.count()
    assert r.n_docs == n_expect
    assert r.doc_store().count() == n_expect
    assert r.doc_store().agg(F.max("doc_id")).collect()[0][0] < 128
    # dictionary df can't exceed the surviving doc count
    assert r.dictionary().agg(F.max("df")).collect()[0][0] <= n_expect
    # equals a fresh build over the truncated corpus
    fresh = str(tmp_path / "idx_trunc_fresh")
    build_index(spark, truncated, fresh, block_bits=7, shard_span_blocks=1, overwrite=True)
    rf = IndexReader(spark, fresh)
    da = {(r_["term"], r_["df"], r_["cf"]) for r_ in r.dictionary().collect()}
    db = {(r_["term"], r_["df"], r_["cf"]) for r_ in rf.dictionary().collect()}
    assert da == db


def test_empty_input_build_leaves_consistent_index(spark, corpus, tmp_path):
    """Building with an empty input over an existing index wipes it to a
    CONSISTENT empty index (no stale manifests/shard_stats), and a later
    non-empty build over the same dir fully recovers (ADVICE r01:
    layout-mixing + stale manifests made the rebuild skip every shard)."""
    from pyspark.sql import functions as F

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader

    out = str(tmp_path / "idx_empty")
    build_index(spark, corpus.filter(F.col("doc_id") < 256), out,
                block_bits=7, shard_span_blocks=1, overwrite=True)
    empty = corpus.filter(F.lit(False))
    meta = build_index(spark, empty, out, block_bits=7, shard_span_blocks=1)
    assert meta.n_docs == 0
    r = IndexReader(spark, out)
    assert r.n_docs == 0 and r.dictionary().count() == 0 and r.doc_store().count() == 0
    # rebuild over the wiped dir with real docs again: full recovery
    build_index(spark, corpus.filter(F.col("doc_id") < 256), out,
                block_bits=7, shard_span_blocks=1)
    r2 = IndexReader(spark, out)
    assert r2.n_docs == 256
    assert r2.doc_store().count() == 256


def _assert_matches_reference(spark, index_dir, docs, block_bits, keyword_fields=None):
    """Byte-identity against the driver-side reference build
    (tests/build_reference.py): every postings column but ``shard``
    (DOCLEN_TERM marker excluded), every doclens-sidecar column but
    ``shard``, and the stats.json counts."""
    from miru_spark.index.builder import DOCLEN_TERM
    from tests.build_reference import canonical_rows, reference_index

    cols = ["doc_id", "text", *sorted((keyword_fields or {}).values())]
    ref_post, ref_dl, ref_stats = reference_index(
        docs.select(*cols).collect(), block_bits, keyword_fields=keyword_fields)
    post = (
        spark.read.parquet(os.path.join(index_dir, "postings"))
        .filter(F.col("term") != DOCLEN_TERM)
        .select(*ref_post.columns)
    )
    assert canonical_rows(post.collect()) == canonical_rows(ref_post.itertuples(index=False))
    dl = spark.read.parquet(os.path.join(index_dir, "doclens")).select(*ref_dl.columns)
    assert canonical_rows(dl.collect()) == canonical_rows(ref_dl.itertuples(index=False))
    stats = json.load(open(os.path.join(index_dir, "stats.json")))
    assert {k: stats[k] for k in ref_stats} == ref_stats


def test_build_matches_reference_byte_identical(spark, corpus, built_index):
    """The packed exchange + stitch merge must write BYTE-identical
    posting blocks, doclens sidecar and stats to the driver-side
    reference that compresses the raw sorted (term, doc_id, tf) rows."""
    _assert_matches_reference(spark, built_index.index_dir, corpus, built_index.block_bits)


def test_build_matches_reference_with_keyword_fields_and_scattered_ids(spark, corpus, tmp_path):
    """Byte-identity must also hold when (a) keyword fields (scalar +
    array, with null values and null elements) ride the same exchange and
    (b) input partitions are NOT doc-id-clustered (the packer's partials
    then interleave across batches and the merger's decode fallback
    kicks in)."""
    from miru_spark.index.builder import build_index

    authz = F.array(F.lit("g1"), F.concat(F.lit("g"), (F.col("doc_id") % 3).cast("string")))
    scattered = (
        corpus.withColumn("authz", F.when(F.col("doc_id") % 11 == 0, F.lit(None))
                          .when(F.col("doc_id") % 13 == 0, F.array(F.lit(None).cast("string"), F.lit("g7")))
                          .otherwise(authz))
        .withColumn("lang", F.when(F.col("doc_id") % 17 == 0, F.lit(None)).otherwise(F.col("lang")))
        .repartition(8)  # round-robin: destroys id clustering
    )
    kw = {"lang": "lang", "authz": "authz"}
    out = str(tmp_path / "idx_kw")
    build_index(spark, scattered, out, stored_cols=["lang"], keyword_fields=kw,
                n_shards=3, block_bits=7, overwrite=True)
    _assert_matches_reference(spark, out, scattered, 7, keyword_fields=kw)


def test_stitch_merge_engages_and_matches_reference_on_fragmented_input(
        spark, corpus, tmp_path, monkeypatch):
    """A task reading several small range-disjoint files in arbitrary
    (e.g. size-sorted) order is the normal cluster read shape for an
    id-clustered table. The packer must cut chunks at the id
    discontinuities so every partial is a monotone interval, and the
    merger must then STITCH (zero decode fallbacks) while staying
    byte-identical to the reference."""
    import glob

    from miru_spark.index.builder import build_index

    # fragment the corpus into many tiny range-disjoint partitions, then
    # shuffle partition order: ids are locally sorted, globally scrambled
    frags = corpus.withColumn("part", (F.col("doc_id") / F.lit(40)).cast("int"))
    src_dir = str(tmp_path / "frags")
    frags.repartition(16, (F.col("part") * 7919) % 16) \
        .sortWithinPartitions("doc_id") \
        .drop("part").write.parquet(src_dir)
    fragged = spark.read.parquet(src_dir)

    dbg = str(tmp_path / "stitch_dbg")
    monkeypatch.setenv("MIRU_STITCH_DEBUG_DIR", dbg)
    out = str(tmp_path / "idx_frag")
    build_index(spark, fragged, out, n_shards=3, block_bits=7, overwrite=True)
    _assert_matches_reference(spark, out, fragged, 7)
    # the merge must have stitched, never decoded: no fallback breadcrumbs
    fallbacks = glob.glob(os.path.join(dbg, "*.txt"))
    assert fallbacks == [], f"stitch fell back to decode: {fallbacks}"


def test_wide_wave_fallback_matches_observed_build(spark, corpus, tmp_path, monkeypatch):
    """A wave wider than _OBSERVE_MAX_SHARDS attaches no Observation: its
    fingerprints come from the full stat scan (not the deferred pack-job
    chars), its manifest aggregates from the shard_stats read-back, and
    its doc aggregates from the marker read-back. Every manifest field,
    stats.json and the dictionary must equal a default build."""
    from miru_spark.index import builder
    from miru_spark.index.manifest import read_manifest

    args = dict(keyword_fields={"lang": "lang"}, block_bits=7,
                shard_span_blocks=1, overwrite=True)
    default = str(tmp_path / "idx_default")
    builder.build_index(spark, corpus, default, **args)

    made = []
    real_observation = builder.Observation
    monkeypatch.setattr(builder, "_OBSERVE_MAX_SHARDS", 1)
    monkeypatch.setattr(
        builder, "Observation", lambda name: made.append(name) or real_observation(name))
    wide = str(tmp_path / "idx_wide")
    meta = builder.build_index(spark, corpus, wide, **args)
    assert meta.n_shards >= 3
    assert made == []

    fields = ("n_docs", "sum_doclen", "n_postings", "n_blocks", "n_terms",
              "checksum", "input_fingerprint")
    for s in range(meta.n_shards):
        a, b = read_manifest(default, s), read_manifest(wide, s)
        assert {f: getattr(b, f) for f in fields} == {f: getattr(a, f) for f in fields}, s
    assert json.load(open(os.path.join(wide, "stats.json"))) == \
        json.load(open(os.path.join(default, "stats.json")))

    def dictionary(d):
        return sorted(tuple(r) for r in spark.read.parquet(os.path.join(d, "dictionary")).collect())

    assert dictionary(wide) == dictionary(default)


def test_compact_removals_folds_log_and_updates_stats(spark, corpus, tmp_path):
    """Compaction must: physically drop removed docs from postings /
    doclens / doc store, clear the log, shrink n_docs/df/avgdl to exact
    post-removal values, keep repair-winning docs, and leave search
    results identical to the log-fold view (modulo the intentionally
    fresher BM25 stats)."""
    import json

    from miru_spark.index.builder import apply_removals, build_index, compact_removals
    from miru_spark.index.reader import IndexReader
    from miru_spark.query import bm25

    out = str(tmp_path / "idx")
    meta = build_index(spark, corpus, out, stored_cols=["url"], n_shards=3,
                       block_bits=7, overwrite=True)
    removed_ids = [3, 77, 411]
    ops = [(3, "remove", 1), (77, "remove", 1), (411, "remove", 1),
           (5, "remove", 1), (5, "repair", 2)]  # 5 is repaired -> survives
    apply_removals(spark, out, spark.createDataFrame(ops, "doc_id long, op string, version long"))

    r_log = IndexReader(spark, out)
    hits_log = {x["doc_id"] for x in bm25.search(r_log, "the0", k=600).collect()}
    assert not (set(removed_ids) & hits_log) and 5 in hits_log

    res = compact_removals(spark, out)
    assert res["removed_docs"] == 3 and res["shards_rewritten"]
    assert not os.path.exists(os.path.join(out, "removals"))

    r2 = IndexReader(spark, out)
    hits2 = {x["doc_id"] for x in bm25.search(r2, "the0", k=600).collect()}
    assert hits2 == hits_log  # same visible docs

    # physically gone from every relation
    post = spark.read.parquet(os.path.join(out, "postings"))
    from miru_spark.index.builder import DOCLEN_TERM
    assert post.filter(F.col("max_doc_id").isin(removed_ids)
                       & (F.col("n") == 1)).count() >= 0  # sanity
    docs = spark.read.parquet(os.path.join(out, "docs"))
    assert docs.filter(F.col("doc_id").isin(removed_ids)).count() == 0
    assert docs.filter(F.col("doc_id") == 5).count() == 1

    stats = json.load(open(os.path.join(out, "stats.json")))
    assert stats["n_docs"] == meta.n_docs - 3
    # avgdl now excludes the removed docs' tokens
    assert stats["total_tokens"] < meta.total_tokens

    # a rebuilt-from-scratch index over the surviving docs must be
    # EQUIVALENT in global stats (df/cf/N/avgdl) to the compacted one
    kept = corpus.filter(~F.col("doc_id").isin(removed_ids))
    out_ref = str(tmp_path / "idx_ref")
    build_index(spark, kept, out_ref, stored_cols=["url"], n_shards=3,
                block_bits=7, overwrite=True)
    s_ref = json.load(open(os.path.join(out_ref, "stats.json")))
    for k in ("n_docs", "total_tokens", "avgdl", "n_terms"):
        assert stats[k] == s_ref[k], k
    # and rank-identically answer queries
    a = bm25.search(IndexReader(spark, out), "the0 AND w00001", k=20).collect()
    b = bm25.search(IndexReader(spark, out_ref), "the0 AND w00001", k=20).collect()
    assert [(x["doc_id"], round(x["score"], 9)) for x in a] == \
           [(x["doc_id"], round(x["score"], 9)) for x in b]


def test_schema_guard_rejects_non_additive_append(spark, corpus, tmp_path):
    """MiruSchema.checkAdditive semantics (MiruSchema.java:303-314): an
    append configured with a different analyzer / layout fails loudly
    BEFORE touching the index; an added keyword field is accepted."""
    import pytest

    from pyspark.sql import functions as F

    from miru_spark.index.builder import build_index
    from miru_spark.index.schema import SchemaEvolutionError, read_schema

    out = str(tmp_path / "idx_schema")
    first = corpus.filter(F.col("doc_id") < 256)
    build_index(spark, first, out, block_bits=7, shard_span_blocks=1, overwrite=True)
    sc0 = read_schema(out)
    assert sc0 is not None and sc0.version == 1 and sc0.use_stopwords is False

    post_dir = os.path.join(out, "postings")
    mtimes_before = {f: os.path.getmtime(os.path.join(post_dir, f))
                     for f in os.listdir(post_dir)}

    # changed analyzer config -> rejected, index untouched
    with pytest.raises(SchemaEvolutionError, match="use_stopwords"):
        build_index(spark, corpus, out, block_bits=7, shard_span_blocks=1,
                    use_stopwords=True)
    # changed block size -> rejected
    with pytest.raises(SchemaEvolutionError, match="block_bits"):
        build_index(spark, corpus, out, block_bits=8, shard_span_blocks=1)
    # changed locale -> rejected
    with pytest.raises(SchemaEvolutionError, match="locale"):
        build_index(spark, corpus, out, block_bits=7, shard_span_blocks=1,
                    locale="de")
    assert {f: os.path.getmtime(os.path.join(post_dir, f))
            for f in os.listdir(post_dir)} == mtimes_before

    # ADDITIVE: a new keyword field is accepted, schema version bumps
    build_index(spark, corpus, out, block_bits=7, shard_span_blocks=1,
                keyword_fields={"lang": "lang"})
    sc1 = read_schema(out)
    assert sc1.version == 2 and sc1.keyword_fields == {"lang": "lang"}

    # removing that keyword field again is NON-additive
    with pytest.raises(SchemaEvolutionError, match="keyword field"):
        build_index(spark, corpus, out, block_bits=7, shard_span_blocks=1)

    # overwrite=True resets the schema entirely
    build_index(spark, first, out, block_bits=8, shard_span_blocks=1, overwrite=True)
    assert read_schema(out).block_bits == 8


def test_schema_guard_streaming_indexer(spark, tmp_path):
    """StreamingIndexer refuses to attach to an index built with a
    different configuration (before any micro-batch runs)."""
    import pytest

    from miru_spark.index.schema import SchemaEvolutionError
    from miru_spark.streaming.ingest import StreamingIndexer

    out = str(tmp_path / "idx_stream_schema")
    StreamingIndexer(out, block_bits=7)
    with pytest.raises(SchemaEvolutionError, match="block_bits"):
        StreamingIndexer(out, block_bits=9)
    # identical config re-attaches fine (restart path)
    StreamingIndexer(out, block_bits=7)


def test_schema_guard_rejects_analyzer_generation_change():
    """An index persisted under an older ANALYZER_VERSION must reject
    appends from a newer engine: the token regex/segmentation change
    means query-side tokens would stop matching stored terms."""
    import pytest as _pytest

    from miru_spark.analysis.tokenizer import ANALYZER_VERSION
    from miru_spark.index.schema import IndexSchema, check_additive

    old = IndexSchema(id_col="doc_id", text_col="text", locale="hi",
                      use_stopwords=False, block_bits=13,
                      analyzer_version=1)
    new = IndexSchema(id_col="doc_id", text_col="text", locale="hi",
                      use_stopwords=False, block_bits=13,
                      analyzer_version=ANALYZER_VERSION)
    assert ANALYZER_VERSION > 1
    problems = check_additive(old, new)
    assert any("analyzer_version" in p for p in problems)
    # same generation: additive
    assert check_additive(new, new) == []
    # a pre-guard schema.json (no analyzer_version key) reads back as
    # generation 1 and is likewise rejected
    assert IndexSchema(id_col="d", text_col="t", locale=None,
                       use_stopwords=False, block_bits=13).analyzer_version == 1


def test_zero_token_shard_rebuild_clears_stale_postings(spark, tmp_path):
    """A wave shard whose docs all tokenize to NOTHING must still
    replace the previous build's postings/shard_stats: dynamic partition
    overwrite only touches partitions that receive rows, and a stale
    'done' shard would match vanished terms forever. The DOCLEN_TERM
    marker rows give every wave shard rows to write."""
    from pyspark.sql import functions as F

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader
    from miru_spark.query import bm25

    out = str(tmp_path / "idx_zt")
    docs1 = spark.createDataFrame(
        [(i, "alpha beta") for i in range(128)]
        + [(128 + i, "gamma delta") for i in range(128)],
        "doc_id long, text string",
    )
    build_index(spark, docs1, out, block_bits=7, shard_span_blocks=1, overwrite=True)
    # same ids, but shard 1's docs all tokenize to nothing
    docs2 = spark.createDataFrame(
        [(i, "alpha beta") for i in range(128)]
        + [(128 + i, "!!! ???") for i in range(128)],
        "doc_id long, text string",
    )
    build_index(spark, docs2, out, block_bits=7, shard_span_blocks=1)
    r = IndexReader(spark, out)
    terms = {x["term"] for x in r.dictionary().collect()}
    assert "gamma" not in terms and "delta" not in terms, terms
    assert "alpha" in terms
    assert bm25.search(r, "gamma", k=5).collect() == []


def test_sparse_id_space_skips_empty_shard_manifests(spark, tmp_path):
    """Fixed layout over a sparse id space (ids clustered high): empty
    shard slots leave NO manifest files (review r3 — one file per empty
    slot meant ~10^5 serial driver writes per build), and the index
    still finalizes, reads, and queries correctly."""
    import os

    from miru_spark.index.builder import build_index
    from miru_spark.index.reader import IndexReader
    from miru_spark.query import bm25

    base = 1_000_000
    docs = spark.createDataFrame(
        [(base + i, f"sparse w{i % 7:05d} tail") for i in range(256)],
        "doc_id long, text string",
    )
    out = str(tmp_path / "idx_sparse")
    meta = build_index(spark, docs, out, block_bits=7, shard_span_blocks=1,
                       overwrite=True)
    assert meta.n_docs == 256
    mdir = os.path.join(out, "manifests")
    manifests = [f for f in os.listdir(mdir) if f.startswith("shard_")]
    # 256 docs / 128-id shards starting at 1_000_000 -> 2-3 populated
    # shards; WITHOUT the fix this directory would hold ~7800 files
    assert len(manifests) <= 4, len(manifests)
    r = IndexReader(spark, out)
    assert r.n_docs == 256
    got = bm25.search(r, "sparse AND tail", k=5).collect()
    assert got and all(x["doc_id"] >= base for x in got)
    # resume over the same input is a no-op and stays consistent
    meta2 = build_index(spark, docs, out, block_bits=7, shard_span_blocks=1)
    assert meta2.n_docs == 256


def test_apply_removals_rejects_unknown_op(spark, tmp_path):
    """op outside {remove, repair} must fail at append time — anything
    else would silently read as a repair downstream (deletions that
    never happen)."""
    import pytest

    from miru_spark.index.builder import apply_removals, build_index

    docs = spark.createDataFrame(
        [(i, "alpha beta") for i in range(32)], "doc_id long, text string")
    out = str(tmp_path / "idx_ops")
    build_index(spark, docs, out, block_bits=5, n_shards=1, overwrite=True)
    bad = spark.createDataFrame(
        [(1, "delete", 1)], "doc_id long, op string, version long")
    with pytest.raises(Exception, match="remove|repair|USER_RAISED"):
        apply_removals(spark, out, bad)
    # case-normalization: 'Remove' is accepted and actually hides the doc
    ok = spark.createDataFrame(
        [(1, "Remove", 1)], "doc_id long, op string, version long")
    apply_removals(spark, out, ok)
    from miru_spark.index.reader import IndexReader

    assert [x["doc_id"] for x in IndexReader(spark, out).removed_docs().collect()] == [1]


def test_assign_doc_ids_cache_release_hook(spark, corpus):
    """assign_doc_ids pins its sorted input in cache (two-phase id
    assignment consistency); the returned DataFrame must expose the
    cached relation so long-lived sessions can release it."""
    from miru_spark.index.builder import assign_doc_ids

    df = corpus.select("url", "text")
    out = assign_doc_ids(df, "url", partitions=5)
    ids = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert sorted(ids) == list(range(len(ids)))
    handle = out._miru_cached_input
    assert handle.is_cached
    handle.unpersist()
    assert not handle.is_cached
