"""Per-fragment scalar index sidecars — the btree-index analogue.

The reference enables Lance's scalar indexes on every scan
(`LanceFragmentPageSource.java:126` useScalarIndex(true); fixture
`example_db/test_table4.lance/_indices/`), letting selective point lookups
on *unclustered* columns skip most of the data. Fragment zone maps (min/max)
only help when values are clustered — on a high-cardinality unclustered
column every fragment's range admits every probe, so without an index a
point lookup scans every row group of every fragment.

Spark-first re-expression: one sidecar parquet file per (indexed column,
fragment), `_indices/<column>/<data-file-basename>`, holding (v, row_index)
SORTED BY v and written with small row groups. A point lookup then costs:

  1. a row-group-stats-pruned read of the sidecar (the file is sorted, so
     the probe value lands in O(1) row groups — the IO shape of a btree
     leaf walk);
  2. a read of ONLY the data-file row groups containing the matching
     physical row indices (`read_rows_by_index`).

Index files are keyed by the immutable data-file basename, so they stay
valid across versions that keep the fragment and are simply absent for
fragments written later — the scan falls back to a full fragment read for
those (consult-if-present, like the reference). Deletion vectors are
applied to the matched indices at read time, so MoR deletes never
resurrect rows through the index.

Build is per fragment: the sort is bounded by fragment size, never a
global shuffle. Small builds run in-process; past the ``scalar`` threshold
of `routing.DISTRIBUTED_MIN_ROWS` each fragment is one Spark task
(`routing.run_items`).
"""

from __future__ import annotations

import os
import uuid

INDICES_DIR = "_indices"
INDEX_PROP = "scalar_indexes"  # manifest.properties: sorted list of columns
INDEX_ROW_GROUP = 8192


def index_rel_path(column: str, frag_rel_path: str) -> str:
    return os.path.join(INDICES_DIR, column, os.path.basename(frag_rel_path))


def build_fragment_index(
    root: str, frag_rel_path: str, column: str,
    row_group_size: int = INDEX_ROW_GROUP,
) -> str:
    """Executor-side: write one fragment's sorted (v, row_index) sidecar.
    Atomic (tmp + rename), idempotent — safe under task retries."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(root, frag_rel_path))
    if column not in pf.schema_arrow.names:
        # fragment predates a metadata-only ADD COLUMN — no sidecar; scans
        # fall back to a full fragment read (consult-if-present)
        return None
    data = pq.read_table(os.path.join(root, frag_rel_path), columns=[column])
    v = data.column(column)
    tbl = pa.table(
        {"v": v, "row_index": pa.array(np.arange(len(data), dtype=np.int64))}
    )
    tbl = tbl.take(pc.sort_indices(tbl, sort_keys=[("v", "ascending")]))
    rel = index_rel_path(column, frag_rel_path)
    out = os.path.join(root, rel)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = os.path.join(os.path.dirname(out), f".tmp-{uuid.uuid4().hex}")
    pq.write_table(tbl, tmp, row_group_size=row_group_size)
    os.replace(tmp, out)
    return rel


def lookup(index_path: str, values: list):
    """Matching physical row indices from a sidecar, int64 ndarray. The
    sidecar is sorted by v, so pyarrow's row-group statistics restrict the
    read to the O(1) groups whose [min, max] admit a probe value."""
    import pyarrow.dataset as pads

    ds = pads.dataset(index_path, format="parquet")
    t = ds.to_table(filter=pads.field("v").isin(values), columns=["row_index"])
    return t.column("row_index").to_numpy()


def read_rows_by_index(
    data_path: str,
    row_indices,
    columns: list[str] | None = None,
    deletion_indices=None,
):
    """Read ONLY the parquet row groups containing `row_indices` (physical
    positions) and select exactly those rows.

    Returns (table, physical_rows_read) — the second value is the bounded-IO
    proof: rows actually decoded from the data file, `<=` a few row groups,
    never the fragment. `deletion_indices` (sorted int64 ndarray) are
    dropped from the request before reading."""
    import numpy as np
    import pyarrow.parquet as pq

    idx = np.unique(np.asarray(row_indices, dtype=np.int64))
    if deletion_indices is not None and len(deletion_indices) and idx.size:
        idx = idx[
            ~np.isin(idx, np.asarray(deletion_indices, dtype=np.int64))
        ]
    pf = pq.ParquetFile(data_path)
    meta = pf.metadata
    if idx.size == 0:
        empty = pf.schema_arrow.empty_table()
        return (empty.select(columns) if columns else empty), 0
    starts = np.zeros(meta.num_row_groups + 1, dtype=np.int64)
    for i in range(meta.num_row_groups):
        starts[i + 1] = starts[i] + meta.row_group(i).num_rows
    owner = np.searchsorted(starts, idx, side="right") - 1
    groups = np.unique(owner)
    tbl = pf.read_row_groups(groups.tolist(), columns=columns)
    # map each physical index into its position within the concatenated
    # selected groups
    new_base = np.zeros(meta.num_row_groups, dtype=np.int64)
    c = 0
    for g in groups:
        new_base[g] = c - starts[g]
        c += starts[g + 1] - starts[g]
    return tbl.take(idx + new_base[owner]), int(c)
