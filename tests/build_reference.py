"""Driver-side reference for the index build's byte-identity tests.

The production build (``miru_spark.index.builder``) packs (term, block)
partial posting runs map-side, exchanges them, and stitches them
reduce-side. :func:`reference_index` computes the same posting blocks,
doclens sidecar and stats the direct way, on the driver: tokenize each
collected doc, count tf with ``Counter``, sort the raw
(term, doc_id, tf) rows and compress each (term, block) group with
:func:`_compress_groups`. No Spark pipeline runs here.

The pure kernels :func:`_pack_partials` and :func:`_decode_partials` are
the oracle of ``test_merge_property.py``: partials packed and decoded
here, then compressed by :func:`_compress_groups`, must equal what the
production stitch and Arrow-decode merges produce from them.
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd

from miru_spark.analysis.tokenizer import tokenize
from miru_spark.index import codec
from miru_spark.index.builder import _group_slices


def reference_index(
    docs, block_bits: int, *, keyword_fields: dict[str, str] | None = None,
) -> tuple[pd.DataFrame, pd.DataFrame, dict]:
    """(postings, doclens, stats) of ``docs`` — collected rows with
    ``doc_id``, ``text`` and the keyword columns — as ``build_index``
    with default analysis must write them. ``postings`` and ``doclens``
    carry every column of the production relations except ``shard``;
    ``stats`` holds the stats.json counts n_docs, total_tokens, n_terms
    and avgdl.

    Keyword composites are ``field:value`` terms with tf = occurrences in
    the doc; a null scalar or a null array element produces no term."""
    rows: list[tuple[str, int, int]] = []
    doclens: list[tuple[int, int]] = []
    for r in docs:
        doc_id = int(r["doc_id"])
        toks = tokenize(r["text"])
        tf = Counter(toks)
        for fname, col in sorted((keyword_fields or {}).items()):
            v = r[col]
            vals = v if isinstance(v, (list, tuple)) else [v]
            tf.update(f"{fname}:{x}" for x in vals if x is not None)
        rows.extend((t, doc_id, n) for t, n in tf.items())
        doclens.append((doc_id, len(toks)))
    post = pd.DataFrame(rows, columns=["term", "doc_id", "tf"])
    post = post.sort_values(["term", "doc_id"], kind="stable", ignore_index=True)
    dl = pd.DataFrame(doclens, columns=["doc_id", "doclen"])
    dl = dl.sort_values("doc_id", kind="stable", ignore_index=True)
    n_docs = len(dl)
    total = int(dl["doclen"].sum())
    stats = {
        "n_docs": n_docs,
        "total_tokens": total,
        "n_terms": int(post["term"].nunique()),
        "avgdl": total / n_docs,
    }
    return (
        _compress_groups(post, block_bits),
        _compress_doclen_groups(dl, block_bits),
        stats,
    )


def canonical_rows(rows) -> list[tuple]:
    """Rows (Spark ``Row``s or pandas ``itertuples``) as a sorted list of
    plain-Python tuples, binary columns as ``bytes``, so a collected
    relation compares equal to a reference frame."""
    def plain(v):
        if isinstance(v, (bytes, bytearray)):
            return bytes(v)
        return v.item() if isinstance(v, np.generic) else v

    return sorted(tuple(plain(v) for v in r) for r in rows)


def _compress_groups(pdf: pd.DataFrame, block_bits: int) -> pd.DataFrame:
    """Compress raw posting rows into block rows.

    Input: one row per DISTINCT (term, doc_id) carrying its tf, sorted by
    (term, doc_id). block_key is derived here (doc_id >> block_bits).
    Duplicate (term, doc_id) rows still merge: tf sums over equal runs.
    """
    rt = pdf["term"].to_numpy()
    rids = pdf["doc_id"].to_numpy(dtype=np.int64)
    rbk = rids >> block_bits
    rtfs = pdf["tf"].to_numpy(dtype=np.int64)
    n_rows = len(rt)
    run = np.empty(n_rows, dtype=bool)
    run[0] = True
    # (no block-key clause: rbk = rids >> block_bits, so a block change
    # implies an id change)
    run[1:] = (rids[1:] != rids[:-1]) | (rt[1:] != rt[:-1])
    run_starts = np.nonzero(run)[0]
    tfs_all = np.add.reduceat(rtfs, run_starts)
    t = rt[run_starts]
    bk = rbk[run_starts]
    ids_all = rids[run_starts]

    change = np.empty(len(t), dtype=bool)
    change[0] = True
    change[1:] = (t[1:] != t[:-1]) | (bk[1:] != bk[:-1])
    starts = np.nonzero(change)[0]
    ends = np.append(starts[1:], len(t))

    # whole-batch encode, per-group slice: one varbyte pass per stream
    # for ALL groups (per-group numpy calls on tiny arrays are ~100x the
    # byte work). Deltas restart at each group boundary from block base.
    prev = np.empty_like(ids_all)
    prev[0] = 0
    prev[1:] = ids_all[:-1]
    deltas = np.where(change, ids_all - (bk << block_bits), ids_all - prev)
    id_buf, id_sizes = codec.varbyte_encode_with_sizes(deltas.astype(np.uint64))
    tf_buf, tf_sizes = codec.varbyte_encode_with_sizes(tfs_all.astype(np.uint64))

    id_slices = _group_slices(id_buf, id_sizes, ends)
    # codec choice per block (the reference's run-optimize,
    # MiruBitmaps.java:177): dense blocks (few consecutive-id runs)
    # re-encode as RLE. Heuristic: the run stream holds 2 varbytes per
    # run vs >=1 byte per posting, so RLE wins when 2*n_runs < n.
    # Head-term blocks are few but big — per-group python cost is fine.
    n_counts = ends - starts
    run_break = np.empty(len(t), dtype=bool)
    run_break[0] = True
    run_break[1:] = change[1:] | (deltas[1:] != 1)
    n_runs = np.add.reduceat(run_break.astype(np.int64), starts)
    codec_col = (2 * n_runs < n_counts).astype(np.int8)
    for gi in np.flatnonzero(codec_col):
        gs_, ge_ = starts[gi], ends[gi]
        id_slices[gi] = codec.encode_block_runs(
            ids_all[gs_:ge_], int(bk[gs_]) << block_bits
        )

    return pd.DataFrame(
        {
            "term": t[starts],
            "block_key": bk[starts],
            "n": n_counts.astype(np.int32),
            "sum_tf": np.add.reduceat(tfs_all, starts),
            "max_doc_id": ids_all[ends - 1],
            "max_tf": np.maximum.reduceat(tfs_all, starts).astype(np.int32),
            "codec": codec_col,
            "doc_ids": id_slices,
            "tfs": _group_slices(tf_buf, tf_sizes, ends),
        }
    )


def _compress_doclen_groups(pdf: pd.DataFrame, block_bits: int) -> pd.DataFrame:
    """Compress (doc_id, doclen) rows (sorted by doc_id, partitioned by
    block) into one sidecar row per block: delta+varbyte doc ids from the
    block base, varbyte doclens, plus the block's min doclen for WAND
    upper bounds."""
    ids = pdf["doc_id"].to_numpy(dtype=np.int64)
    dls = pdf["doclen"].to_numpy(dtype=np.int64)
    bk = ids >> block_bits
    change = np.empty(len(ids), dtype=bool)
    change[0] = True
    change[1:] = bk[1:] != bk[:-1]
    starts = np.nonzero(change)[0]
    ends = np.append(starts[1:], len(ids))

    prev = np.empty_like(ids)
    prev[0] = 0
    prev[1:] = ids[:-1]
    deltas = np.where(change, ids - (bk << block_bits), ids - prev)
    id_buf, id_sizes = codec.varbyte_encode_with_sizes(deltas.astype(np.uint64))
    dl_buf, dl_sizes = codec.varbyte_encode_with_sizes(dls.astype(np.uint64))

    return pd.DataFrame(
        {
            "block_key": bk[starts],
            "n": (ends - starts).astype(np.int32),
            "min_doclen": np.minimum.reduceat(dls, starts).astype(np.int32),
            "doc_ids": _group_slices(id_buf, id_sizes, ends),
            "doclens": _group_slices(dl_buf, dl_sizes, ends),
        }
    )


def _pack_partials(
    term_arr: np.ndarray, doc_arr: np.ndarray, tf_arr: np.ndarray, block_bits: int
) -> pd.DataFrame:
    """Group flat (term, doc_id, tf) arrays by (term, block) and encode
    each group as one packed partial row. One varbyte pass for the whole
    batch (per-group calls on tiny arrays cost ~100x the byte work)."""
    codes, uniques = pd.factorize(term_arr, sort=False)
    block = doc_arr >> block_bits
    order = np.lexsort((doc_arr, block, codes))
    codes = codes[order]
    doc_s = doc_arr[order]
    tf_s = tf_arr[order]
    block_s = block[order]

    change = np.empty(len(codes), dtype=bool)
    change[0] = True
    change[1:] = (codes[1:] != codes[:-1]) | (block_s[1:] != block_s[:-1])
    starts = np.nonzero(change)[0]
    ends = np.append(starts[1:], len(codes))

    deltas = np.empty_like(doc_s)
    deltas[0] = 0
    deltas[1:] = doc_s[1:] - doc_s[:-1]
    np.putmask(deltas, change, doc_s - (block_s << block_bits))
    id_buf, id_sizes = codec.varbyte_encode_with_sizes(deltas.astype(np.uint64))
    tf_buf, tf_sizes = codec.varbyte_encode_with_sizes(tf_s.astype(np.uint64))

    run_break = np.empty(len(codes), dtype=bool)
    run_break[0] = True
    run_break[1:] = change[1:] | (deltas[1:] != 1)
    return pd.DataFrame(
        {
            "term": uniques[codes[starts]],
            "block_key": block_s[starts],
            "min_doc": doc_s[starts],
            "n": (ends - starts).astype(np.int32),
            "max_doc": doc_s[ends - 1],
            "sum_tf": np.add.reduceat(tf_s, starts),
            "max_tf": np.maximum.reduceat(tf_s, starts).astype(np.int32),
            "n_runs": np.add.reduceat(run_break.astype(np.int64), starts).astype(np.int32),
            "doc_ids": _group_slices(id_buf, id_sizes, ends),
            "tfs": _group_slices(tf_buf, tf_sizes, ends),
        }
    )


def _decode_partials(pdf: pd.DataFrame, block_bits: int) -> pd.DataFrame:
    """Packed partial rows (sorted so equal (term, block_key) groups are
    contiguous, partials ordered by min_doc) -> flat (term, doc_id, tf)
    rows sorted the way ``_compress_groups`` requires. Whole-batch
    decode: varbyte streams are self-delimiting, so ALL partials decode
    in one pass; per-partial delta bases restart via a segmented
    cumsum."""
    n = pdf["n"].to_numpy(dtype=np.int64)
    starts = np.zeros(len(n), dtype=np.int64)
    starts[1:] = np.cumsum(n)[:-1]
    deltas = codec.varbyte_decode(b"".join(pdf["doc_ids"])).astype(np.int64)
    tfs = codec.varbyte_decode(b"".join(pdf["tfs"])).astype(np.int64)
    base = pdf["block_key"].to_numpy(dtype=np.int64) << block_bits
    cs = np.cumsum(deltas)
    # ids[i] = cs[i] - (cs[start_p] - deltas[start_p] - base_p) for i in partial p
    off = cs[starts] - deltas[starts] - base
    ids = cs - np.repeat(off, n)
    terms = np.repeat(pdf["term"].to_numpy(), n)

    # cross-partial doc ranges can interleave when input partitions are
    # not id-clustered; detect and re-sort within the delivered stream
    # order (gid preserves (term, block) contiguity from the sort)
    gid = np.repeat(np.arange(len(n), dtype=np.int64), n)
    t_np = pdf["term"].to_numpy()
    bk_np = pdf["block_key"].to_numpy()
    same_grp = np.empty(len(n), dtype=bool)
    same_grp[0] = False
    same_grp[1:] = (t_np[1:] == t_np[:-1]) & (bk_np[1:] == bk_np[:-1])
    grp_no = np.cumsum(~same_grp)  # per-partial group ordinal
    grp_elem = np.repeat(grp_no, n)
    unsorted = np.any((ids[1:] <= ids[:-1]) & (grp_elem[1:] == grp_elem[:-1]))
    if unsorted:
        order = np.lexsort((ids, grp_elem))
        ids, tfs, terms = ids[order], tfs[order], terms[order]
    return pd.DataFrame({"term": terms, "doc_id": ids, "tf": tfs})
