"""Property-based equivalence of the merge implementations.

The reduce side of the index build turns packed partials into final
posting blocks two ways: the STITCH path (byte concat + boundary varint
patch, interval-disjoint partials only) and the Arrow decode path
(fallback for interleaved partials). Both must be byte-identical on any
input to the oracle in tests/build_reference.py (`_decode_partials` +
`_compress_groups`); hypothesis drives random posting sets, tf values,
and chunkings (interval chunking exercises the stitch, scattered
chunking exercises the fallback). Pure functions — no Spark session."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from miru_spark.index.builder import _merge_arrow_body, _stitch_arrow_body
from tests.build_reference import _compress_groups, _decode_partials, _pack_partials

BB = 4  # 16-doc blocks: several blocks + RLE-eligible dense blocks


def _mk_partials(rows: pd.DataFrame, chunks: list[np.ndarray]) -> pa.Table:
    """Pack each doc-chunk separately (what the map side does), then
    deliver sorted by (term, block_key, min_doc) like the exchange."""
    parts = []
    for ids in chunks:
        sub = rows[rows["doc_id"].isin(ids)].sort_values(["term", "doc_id"])
        if not len(sub):
            continue
        parts.append(
            _pack_partials(
                sub["term"].to_numpy(dtype=object),
                sub["doc_id"].to_numpy(dtype=np.int64),
                sub["tf"].to_numpy(dtype=np.int64),
                BB,
            )
        )
    allp = pd.concat(parts, ignore_index=True).sort_values(
        ["term", "block_key", "min_doc"], kind="stable"
    ).reset_index(drop=True)
    return pa.Table.from_pandas(allp, preserve_index=False)


@st.composite
def posting_case(draw):
    n_terms = draw(st.integers(1, 4))
    docs = draw(
        st.lists(st.integers(0, 90), min_size=1, max_size=60, unique=True)
    )
    docs = sorted(docs)
    rows = []
    for t in range(n_terms):
        member = draw(
            st.lists(st.booleans(), min_size=len(docs), max_size=len(docs))
        )
        for d, m in zip(docs, member):
            if m:
                rows.append((f"t{t}", d, draw(st.integers(1, 4))))
    if not rows:
        rows.append(("t0", docs[0], 1))
    interval_chunking = draw(st.booleans())
    all_ids = np.array(sorted({d for _, d, _ in rows}), dtype=np.int64)
    if interval_chunking:
        k = draw(st.integers(1, 4))
        cuts = sorted(draw(st.sets(st.integers(1, max(1, len(all_ids) - 1)),
                                   max_size=k - 1)))
        chunks = np.split(all_ids, cuts) if cuts else [all_ids]
    else:
        k = draw(st.integers(1, 4))
        assignment = [draw(st.integers(0, k - 1)) for _ in all_ids]
        chunks = [all_ids[np.array(assignment) == i] for i in range(k)]
        chunks = [c for c in chunks if len(c)]
    return rows, chunks


def _canon(batch_or_df) -> pd.DataFrame:
    if isinstance(batch_or_df, pa.RecordBatch):
        df = batch_or_df.to_pandas()
    else:
        df = batch_or_df
    return df.sort_values(["term", "block_key"]).reset_index(drop=True)


@settings(max_examples=120, deadline=None)
@given(posting_case())
def test_merge_paths_byte_identical(case):
    rows, chunks = case
    rows_df = pd.DataFrame(rows, columns=["term", "doc_id", "tf"])
    tbl = _mk_partials(rows_df, chunks)

    # ground truth: the reference decode + compress over the same partials
    expected = _canon(
        _compress_groups(_decode_partials(tbl.to_pandas(), BB), BB)
    )
    got_decode = _canon(_merge_arrow_body(tbl, BB))
    pd.testing.assert_frame_equal(got_decode, expected)

    got_stitch = _stitch_arrow_body(tbl, BB)
    if got_stitch is not None:
        pd.testing.assert_frame_equal(_canon(got_stitch), expected)
    else:
        # stitch must only refuse when partial ranges genuinely interleave
        mins = tbl.column("min_doc").to_numpy()
        maxs = tbl.column("max_doc").to_numpy()
        terms = np.array(tbl.column("term").to_pylist())
        bks = tbl.column("block_key").to_numpy()
        interleaved = False
        for i in range(1, len(mins)):
            if terms[i] == terms[i - 1] and bks[i] == bks[i - 1]:
                if mins[i] <= maxs[i - 1]:
                    interleaved = True
        assert interleaved, "stitch refused a stitchable body"
