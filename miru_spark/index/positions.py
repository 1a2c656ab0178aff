"""Optional positional-postings sidecar: index-native phrase queries.

The core index stores (term, doc, tf) only; quoted-phrase queries verify
adjacency by re-analyzing candidate docs' TEXT with one JVM expression
(query/bm25.py::_phrase_hit_col) — O(candidates), but it touches the doc
text relation. This module adds the Lucene-grade alternative: a
``positions/`` sidecar holding each term's token positions, so phrase
queries are answered from the index alone — no doc-store text join in the
verify path at all. The reference itself has no positional index (its
fulltext plugin re-parses via Lucene analyzers, LuceneBackedQueryParser
.java:56-74), so this is an additive capability, built as a SEPARATE
optional pass that leaves the scaling-critical postings build untouched.

Layout (parquet, partitioned by shard like postings):
    (shard, term, block_key, n,
     doc_ids   binary  -- delta+varbyte block-local doc offsets (same
                          convention as the postings codec),
     pos_lens  binary  -- varbyte per-doc position counts,
     positions binary  -- per doc: first position absolute then gaps,
                          varbyte, concatenated in doc order)

Positions are 0-based indices into the SAME analyzed token stream the
index was built from (``tokenize(text, use_stopwords, locale)`` — after
stopword removal when the index strips stopwords), so positional
adjacency is exactly the adjacency the text-verify expression computes;
parity is pytest-asserted per locale/slop/duplicate-term case.

Scale shape: one exchange keyed (term, block_key) — the same key as the
postings build, so no reducer sees more than one term-block (<= 2^block_bits
docs); query-side verification is a groupBy(block_key) over only the
phrase's terms' blocks (term filter pushed to the parquet scan), with a
fully vectorized greedy-chain kernel (no per-row Python). The sidecar is
optional because positions cost ~cf bytes per term occurrence — at
10^12 docs that is a deliberate storage/latency trade a deployment opts
into per index.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import codec
from .schema import read_schema

POSITIONS_DIR = "positions"
POSITIONS_META = "positions_meta.json"

_POSITIONS_SCHEMA = T.StructType(
    [
        T.StructField("term", T.StringType()),
        T.StructField("block_key", T.LongType()),
        T.StructField("n", T.IntegerType()),
        T.StructField("doc_ids", T.BinaryType()),
        T.StructField("pos_lens", T.BinaryType()),
        T.StructField("positions", T.BinaryType()),
    ]
)


def term_positions_udf(use_stopwords: bool = False, locale: str | None = None):
    """Arrow UDF: text -> struct(terms array<string>, poss array<array<int>>).

    ``poss[i]`` lists the 0-based token positions of ``terms[i]`` in the
    analyzed (stopword-filtered iff the index is) token stream — the same
    stream the index build's pack kernel counts tf over, so
    ``len(poss[i]) == tf``.
    """
    from miru_spark.analysis.tokenizer import tokenize

    ret = T.StructType(
        [
            T.StructField("terms", T.ArrayType(T.StringType())),
            T.StructField("poss", T.ArrayType(T.ArrayType(T.IntegerType()))),
        ]
    )

    @F.pandas_udf(ret)
    def _tp(text: pd.Series) -> pd.DataFrame:
        terms_out, poss_out = [], []
        for s in text:
            d: dict[str, list[int]] = {}
            for i, t in enumerate(tokenize(s, use_stopwords=use_stopwords, locale=locale)):
                d.setdefault(t, []).append(i)
            terms_out.append(list(d.keys()))
            poss_out.append(list(d.values()))
        return pd.DataFrame({"terms": terms_out, "poss": poss_out})

    return _tp


def _compress_positions_factory(block_bits: int):
    """applyInPandas kernel: one (term, block) group of (doc_id, positions)
    rows -> one compressed sidecar row. Groups are bounded by the block
    size (<= 2^block_bits docs), so group-at-a-time memory is bounded."""

    def _compress(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id")
        ids = pdf["doc_id"].to_numpy(dtype=np.int64)
        bk = int(pdf["block_key"].iloc[0])
        local = ids - (bk << block_bits)
        deltas = np.empty_like(local)
        deltas[0] = local[0]
        deltas[1:] = np.diff(local)
        counts = pdf["positions"].map(len).to_numpy(dtype=np.int64)
        # per-doc delta streams: first position absolute, then gaps; one
        # concatenated encode pass (positions within a doc are strictly
        # increasing by construction)
        flat = np.concatenate(
            [np.asarray(p, dtype=np.int64) for p in pdf["positions"]]
        ) if counts.sum() else np.zeros(0, dtype=np.int64)
        starts = np.zeros(len(counts), dtype=np.int64)
        starts[1:] = np.cumsum(counts)[:-1]
        gaps = np.diff(flat, prepend=0)
        gaps[starts] = flat[starts]  # segment firsts stay absolute
        return pd.DataFrame(
            {
                "term": [pdf["term"].iloc[0]],
                "block_key": [bk],
                "n": [len(ids)],
                "doc_ids": [codec.varbyte_encode(deltas)],
                "pos_lens": [codec.varbyte_encode(counts)],
                "positions": [codec.varbyte_encode(gaps)],
            }
        )

    return _compress


def index_state_fingerprint(index_dir: str) -> str:
    """Cheap driver-side fingerprint of the index's CURRENT postings
    state: the sorted per-shard (shard, checksum, n_docs) triples from the
    lineage manifests. Every mutation path rewrites its shards' manifests
    with a recomputed checksum — removal-fold compaction, segment-merge
    compaction, bulk/streaming appends — so a positions sidecar stamped
    with this fingerprint self-invalidates the moment the postings it
    mirrors change (a stale sidecar could otherwise resurrect
    compacted-away docs, which no downstream anti-join would hide)."""
    import glob as _glob
    import hashlib

    parts = []
    for p in sorted(_glob.glob(os.path.join(index_dir, "manifests", "*.json"))):
        with open(p) as f:
            m = json.load(f)
        parts.append(f"{m.get('shard')}:{m.get('checksum')}:{m.get('n_docs')}")
    return hashlib.md5(";".join(parts).encode()).hexdigest()


def shard_position_states(index_dir: str) -> dict[int, dict]:
    """Per-shard (state, doc range) from the lineage manifests — the
    incremental-build key: a shard whose ``checksum:n_docs`` state is
    unchanged since the sidecar was stamped needs no rebuild."""
    import glob as _glob

    states: dict[int, dict] = {}
    for p in sorted(_glob.glob(os.path.join(index_dir, "manifests", "*.json"))):
        with open(p) as f:
            m = json.load(f)
        if m.get("status") == "done":
            states[int(m["shard"])] = {
                "state": f"{m.get('checksum')}:{m.get('n_docs')}",
                "doc_lo": int(m["doc_lo"]),
                "doc_hi": int(m["doc_hi"]),
            }
    return states


def positions_path(index_dir: str) -> str:
    return os.path.join(index_dir, POSITIONS_DIR)


def has_positions(index_dir: str) -> bool:
    return os.path.exists(os.path.join(index_dir, POSITIONS_META))


def positions_meta(index_dir: str) -> dict | None:
    p = os.path.join(index_dir, POSITIONS_META)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def build_positions(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    *,
    exchange_partitions: int | None = None,
    incremental: bool = True,
) -> dict:
    """Build the positional sidecar for an already-built index.

    ``docs`` must be the same relation the index was built from (same
    ``id_col``/``text_col`` values); analyzer settings come from the
    index's persisted ``schema.json``, so the position stream can never
    silently disagree with the indexed vocabulary. Returns the meta dict.

    INCREMENTAL by default: the sidecar meta stamps each shard's
    ``checksum:n_docs`` manifest state; a rebuild re-tokenizes ONLY the
    shards whose state changed since the stamp (appends rebuild the new
    shards, a compaction rebuilds the compacted ones), overwriting just
    those partitions — vanished shards' partitions are dropped. An
    analyzer/layout mismatch (or ``incremental=False``) falls back to
    the full rebuild. The doc filter pushes the stale shards' id ranges
    down to the corpus scan, so an append over a 10^12-doc corpus
    re-reads only the appended range.
    """
    sch = read_schema(index_dir)
    if sch is None:
        raise ValueError(f"{index_dir} has no schema.json — build the index first")
    from miru_spark.analysis.tokenizer import ANALYZER_VERSION

    block_bits = sch.block_bits
    shard_states = shard_position_states(index_dir)
    prev = positions_meta(index_dir)
    analyzer_same = prev is not None and (
        prev.get("locale") == sch.locale
        and bool(prev.get("use_stopwords")) == bool(sch.use_stopwords)
        and prev.get("block_bits") == block_bits
        and prev.get("analyzer_version") == ANALYZER_VERSION
    )
    incremental = (
        incremental and analyzer_same
        and bool(prev.get("shard_states"))
        and os.path.isdir(positions_path(index_dir))
    )
    prev_states = (prev or {}).get("shard_states") or {}
    if incremental:
        stale = sorted(
            s for s, st in shard_states.items()
            if prev_states.get(str(s)) != st["state"]
        )
        gone = sorted(
            int(s) for s in prev_states if int(s) not in shard_states)
    else:
        stale = sorted(shard_states)
        gone = []
    for s in gone:
        leaf = os.path.join(positions_path(index_dir), f"shard={s}")
        if os.path.isdir(leaf):
            shutil.rmtree(leaf)

    meta = {
        "locale": sch.locale,
        "use_stopwords": bool(sch.use_stopwords),
        "block_bits": block_bits,
        "analyzer_version": ANALYZER_VERSION,
        "index_state": index_state_fingerprint(index_dir),
        "shard_states": {str(s): st["state"] for s, st in shard_states.items()},
    }
    if incremental and not stale:
        # nothing to rebuild (gone shards' partitions were dropped
        # above; a shrunken layout can orphan shards without changing
        # any survivor's state): restamp and return — an empty stale
        # list must not fall through to docs.filter(None)
        with open(os.path.join(index_dir, POSITIONS_META), "w") as f:
            json.dump(meta, f)
        return meta

    if incremental:
        # push the stale shards' id ranges down to the corpus scan
        intervals: list[list[int]] = []
        for s in stale:
            lo, hi = shard_states[s]["doc_lo"], shard_states[s]["doc_hi"]
            if intervals and lo <= intervals[-1][1] + 1:
                intervals[-1][1] = max(intervals[-1][1], hi)
            else:
                intervals.append([lo, hi])
        cond = None
        for lo, hi in intervals:
            c = (F.col(sch.id_col).cast("long") >= lo) & (
                F.col(sch.id_col).cast("long") <= hi)
            cond = c if cond is None else cond | c
        docs = docs.filter(cond)

    tp = term_positions_udf(use_stopwords=sch.use_stopwords, locale=sch.locale)
    ex = (
        docs.select(
            F.col(sch.id_col).cast("long").alias("doc_id"),
            tp(F.col(sch.text_col).cast("string")).alias("tp"),
        )
        .select("doc_id", F.explode(F.arrays_zip("tp.terms", "tp.poss")).alias("z"))
        .select(
            "doc_id",
            F.col("z.terms").alias("term"),
            F.col("z.poss").alias("positions"),
        )
        .withColumn(
            "block_key", F.expr(f"CAST(CAST(doc_id AS BIGINT) DIV {1 << block_bits} AS BIGINT)")
        )
    )
    if exchange_partitions:
        ex = ex.repartition(exchange_partitions, "term", "block_key")
    rows = ex.groupBy("term", "block_key").applyInPandas(
        _compress_positions_factory(block_bits), schema=_POSITIONS_SCHEMA
    )
    # block -> shard mapping from the doclens sidecar: small (one row per
    # populated block), broadcast — positions land in the same shard
    # partition as their postings, so a shard is self-contained
    blockmap = (
        spark.read.parquet(os.path.join(index_dir, "doclens"))
        .select("shard", "block_key")
        .distinct()
    )
    if incremental:
        blockmap = blockmap.filter(F.col("shard").isin([int(s) for s in stale]))
    out = rows.join(F.broadcast(blockmap), "block_key", "inner")
    writer = out.select(
        "shard", "term", "block_key", "n", "doc_ids", "pos_lens", "positions"
    ).write.mode("overwrite").option("compression", "zstd").partitionBy("shard")
    if incremental:
        # replace ONLY the stale shards' partitions; untouched shards'
        # files stay byte-identical on disk. Pre-clearing the stale
        # leaves (instead of relying on dynamic overwrite alone) also
        # covers a stale shard that now produces ZERO rows, which a
        # dynamic overwrite would silently leave in place. Crash-safe:
        # the meta is restamped only after a successful write, and a
        # missing/stale stamp makes positions_usable() False — phrase
        # queries fall back to the text plan, never to a torn sidecar.
        for s in stale:
            leaf = os.path.join(positions_path(index_dir), f"shard={s}")
            if os.path.isdir(leaf):
                shutil.rmtree(leaf)
        prev_mode = spark.conf.get(
            "spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            writer.parquet(positions_path(index_dir))
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
    else:
        writer.parquet(positions_path(index_dir))
    with open(os.path.join(index_dir, POSITIONS_META), "w") as f:
        json.dump(meta, f)
    return meta


def positions_usable(index_dir: str, locale: str | None, use_stopwords: bool) -> bool:
    """True iff the sidecar exists and was built under exactly the
    analyzer the query is about to verify with — a per-query locale or
    stopword override that changes the token stream disqualifies the
    sidecar (positions index a specific stream), and the caller falls
    back to text verification. Likewise an index whose postings have
    MUTATED since the sidecar was built (compaction folding tombstones,
    a bulk or streaming append, a segment merge) disqualifies it: the
    manifests' state fingerprint no longer matches, so ``auto`` falls
    back to text and ``positions`` fails loudly — never a silently
    resurrected or missing doc."""
    from miru_spark.analysis.tokenizer import ANALYZER_VERSION

    m = positions_meta(index_dir)
    return bool(
        m
        and m.get("locale") == locale
        and bool(m.get("use_stopwords")) == bool(use_stopwords)
        and m.get("analyzer_version") == ANALYZER_VERSION
        and m.get("index_state") == index_state_fingerprint(index_dir)
    )


def _gather_segments(flat: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Concatenate flat[starts[i] : starts[i]+lens[i]] for all i (vectorized)."""
    total = int(lens.sum())
    if total == 0:
        return flat[:0]
    ends = np.cumsum(lens)
    offs = np.arange(total, dtype=np.int64) - np.repeat(ends - lens, lens)
    return flat[np.repeat(starts, lens) + offs]


def _chain_matches(slot_keys: list[np.ndarray], span: int) -> np.ndarray:
    """Greedy in-order chain over composite (doc_rank << 32 | position)
    keys: for every slot-0 occurrence, pick the smallest later slot-1
    occurrence in the same doc, then slot-2, ... The greedy chain
    minimizes the final position, so it is exact for "ordered occurrence
    spanning <= span+1 tokens". Returns the doc ranks with >=1 hit."""
    cur = slot_keys[0]
    if cur.size == 0:
        return np.zeros(0, dtype=np.int64)
    p1 = cur
    alive = np.ones(cur.size, dtype=bool)
    for ks in slot_keys[1:]:
        if ks.size == 0:
            return np.zeros(0, dtype=np.int64)
        idx = np.searchsorted(ks, cur, side="right")
        ok = idx < ks.size
        nxt = ks[np.minimum(idx, ks.size - 1)]
        ok &= (nxt >> np.uint64(32)) == (cur >> np.uint64(32))
        alive &= ok
        cur = np.where(ok, nxt, cur)
    hit = alive & ((cur - p1) <= np.uint64(span))
    return np.unique((p1[hit] >> np.uint64(32)).astype(np.int64))


def _verifier_factory(slots: list[str], slop: int, block_bits: int):
    """groupBy(block_key).applyInPandas kernel: decode the phrase terms'
    position blocks, intersect their doc sets, and run the vectorized
    greedy-chain adjacency check. Emits matching absolute doc_ids."""
    uniq = list(dict.fromkeys(slots))
    span = len(slots) + max(0, slop) - 1
    empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64")})

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        present = set(pdf["term"])
        if not all(t in present for t in uniq):
            return empty
        bk = int(pdf["block_key"].iloc[0])
        base = bk << block_bits
        per_term: dict[str, tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]] = {}
        # itertuples, not iterrows: the group holds at most one row per
        # phrase term (block-level sidecar layout), so the loop is
        # bounded by the phrase length — but iterrows materializes a
        # Series per row, ~10x the attribute-access cost for nothing
        for row in pdf.itertuples(index=False):
            t = row.term
            if t not in uniq:
                continue
            ids = np.cumsum(codec.varbyte_decode(row.doc_ids).astype(np.int64)) + base
            lens = codec.varbyte_decode(row.pos_lens).astype(np.int64)
            gaps = codec.varbyte_decode(row.positions).astype(np.int64)
            # segmented cumsum: per-doc firsts are absolute, gaps follow
            starts = np.zeros(len(lens), dtype=np.int64)
            starts[1:] = np.cumsum(lens)[:-1]
            cs = np.cumsum(gaps)
            prev = np.zeros(len(lens), dtype=np.int64)
            prev[1:] = cs[starts[1:] - 1]
            pos = cs - np.repeat(prev, lens)
            per_term[t] = (ids, lens, starts, pos)
        cand = per_term[uniq[0]][0]
        for t in uniq[1:]:
            cand = np.intersect1d(cand, per_term[t][0], assume_unique=True)
        if cand.size == 0:
            return empty
        keys_by_term: dict[str, np.ndarray] = {}
        for t in uniq:
            ids, lens, starts, pos = per_term[t]
            sel = np.searchsorted(ids, cand)  # cand ⊆ ids, both sorted
            ranks = np.arange(cand.size, dtype=np.uint64)
            seg = _gather_segments(pos, starts[sel], lens[sel])
            keys = (np.repeat(ranks, lens[sel]) << np.uint64(32)) | seg.astype(np.uint64)
            keys_by_term[t] = keys  # sorted: doc rank asc, position asc
        ranks = _chain_matches([keys_by_term[t] for t in slots], span)
        return pd.DataFrame({"doc_id": cand[ranks]})

    return _verify


def phrase_match_ids(
    reader, terms: list[str], slop: int = 0
) -> DataFrame:
    """Docs where ``terms`` occur in order within ``len(terms)+slop``
    tokens — answered ENTIRELY from the positional sidecar (term filter
    pushed to the parquet scan; one groupBy over the phrase's blocks).
    Same match semantics as the text-verify expression, pytest-pinned.

    Removal-log semantics match the text path: like ``reader.postings``,
    hidden docs may appear here and are anti-joined downstream by every
    query entry point."""
    df = reader._rel(POSITIONS_DIR).filter(
        F.col("term").isin(list(dict.fromkeys(terms)))
    )
    return df.groupBy("block_key").applyInPandas(
        _verifier_factory(list(terms), slop, reader.block_bits),
        schema="doc_id long",
    )
