"""Distributed encode: DataFrame -> encoded block rows.

Pipeline shape (reference parity: crawl -> accumulate -> sorted columnar
batches -> buffered parquet sink, ``bids2table/crawler.py:90-136`` +
``writer.py:57-110``; re-expressed Spark-first):

    df -> with_group (salted, broadcast join)
       -> groupBy(pt, grp).applyInArrow(encode_group)    # ONE shuffle
       -> block rows (pt, grp, block_id, column, codec, payload, ...)
          + one group row per group (GROUP_CODEC, feeds the manifest)

Inside each group the rows are sorted by the key columns (the reference
sorts every finalized batch, ``bids2table/table.py:122-125`` — here it is
what makes RLE/delta effective and defines the stable decode order), then
chunked into blocks of ``block_rows`` and encoded column-by-column with
numpy kernels.  No per-row Python anywhere: the group arrives as Arrow,
kernels are vectorized, and the output is a small frame of binary cells.
"""

from __future__ import annotations

from typing import Callable, Mapping

import pandas as pd
import pyarrow as pa

from .blocks import BLOCKS_SCHEMA_DDL, spark_field_phys, zone_key_value
from .partitioning import DEFAULT_GROUP_ROWS, salt_plan, with_group
from .selector import choose_codec_local

DEFAULT_BLOCK_ROWS = 65_536

BLOCKS_DDL_WITH_IDX = BLOCKS_SCHEMA_DDL.replace(
    "column string", "column string, col_idx int"
)

# Every encode task appends ONE row with this codec next to its data blocks:
# the group's own record of what it wrote, taken from the worker that wrote
# it (the reference's processed log, bids2table/logging.py:98-131).
# encode_job builds the manifest from these rows.  A group whose encode
# raises emits only this row, with ``error`` set (reference behavior:
# per-file errors become side-channel rows and the crawl continues,
# bids2table/crawler.py:92); the manifest marks it status='failed' and a
# resumed run re-attempts it.
GROUP_CODEC = "__group__"


def group_row(pt: str, grp: str, blocks: list[dict], exc: Exception | None = None) -> dict:
    """The group row summarizing ``blocks`` (the group's data block rows).

    Carries the group's n_rows / orig_bytes / enc_bytes; ``checksum`` is the
    sha256 of the sorted ``column:block_id:checksum`` list; ``meta`` is JSON
    with ``n_blocks``, the sorted distinct ``column:codec`` list (NOT a map:
    the per-block local chooser may pick different codecs for different
    blocks of one column) and ``error`` (null unless ``exc``)."""
    import hashlib
    import json
    import traceback

    error = None
    if exc is not None:
        error = "".join(traceback.format_exception_only(type(exc), exc)).strip()[:2000]
    block_sums = sorted(f"{r['column']}:{r['block_id']}:{r['checksum']}" for r in blocks)
    meta = {
        "n_blocks": len(blocks),
        "codecs": sorted({f"{r['column']}:{r['codec']}" for r in blocks}),
        "error": error,
    }
    return {
        "pt": pt, "grp": grp, "block_id": -1, "column": "", "col_idx": -1,
        "codec": GROUP_CODEC, "phys": "",
        "n_rows": sum(r["n_rows"] for r in blocks if r["col_idx"] == 0),
        "n_nulls": 0, "meta": json.dumps(meta), "payload": b"",
        "orig_bytes": sum(r["orig_bytes"] for r in blocks),
        "enc_bytes": sum(r["enc_bytes"] for r in blocks),
        "checksum": hashlib.sha256(",".join(block_sums).encode()).hexdigest(),
        "zmin": None, "zmax": None, "cmin": None, "cmax": None,
    }


def flatten_struct_columns(df):
    """Flatten nested columns to ``parent·child·…`` leaf columns, plus a
    ``…·__defined__`` validity leaf per struct level so decode can
    distinguish a NULL struct from a struct of NULLs.

    Handles arbitrarily nested structs (recursive) and ``list<struct>``
    (each struct field becomes a parallel list leaf, with a
    ``list<boolean>`` validity leaf for element-level struct nullity —
    zipped back together at decode).  The block container then only ever
    sees primitive/list physical types; decode_table reassembles the
    nesting (column-name contract, not a side-channel).  Reference parity:
    nested records flattened to columns, ``bids2table/schema.py:101-150``;
    the struct-of-lists layout matches the ndarray extension's
    ``{data, shape}`` storage (``bids2table/extensions/ndarray.py:50-74``).
    """
    from pyspark.sql import functions as F, types as T

    def needs_flatten(dt) -> bool:
        return isinstance(dt, T.StructType) or (
            isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType)
        )

    def flatten(expr, name: str, dt):
        if isinstance(dt, T.StructType):
            yield expr.isNotNull().alias(f"{name}·__defined__")
            for sub in dt.fields:
                yield from flatten(expr.getField(sub.name), f"{name}·{sub.name}", sub.dataType)
        elif isinstance(dt, T.ArrayType) and isinstance(dt.elementType, T.StructType):
            elem = dt.elementType
            for sub in elem.fields:
                if needs_flatten(sub.dataType):
                    raise TypeError(
                        f"list<struct> flattening supports primitive/list fields; "
                        f"nested field {name}.{sub.name} ({sub.dataType}) not supported"
                    )
            yield F.transform(expr, lambda x: x.isNotNull()).alias(f"{name}·__defined__")
            for sub in elem.fields:
                yield F.transform(expr, lambda x: x.getField(sub.name)).alias(
                    f"{name}·{sub.name}"
                )
        else:
            yield expr.alias(name)

    if not any(needs_flatten(f.dataType) for f in df.schema.fields):
        return df
    out = []
    for f in df.schema.fields:
        out.extend(flatten(F.col(f.name), f.name, f.dataType))
    return df.select(out)


def encode_table(
    df,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    pt_col: str = "pt",
    conv_col: str = "conv_id",
    plan: Mapping[str, str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    target_group_rows: int = DEFAULT_GROUP_ROWS,
    splan=None,
):
    """Encode every data column of ``df`` into block rows.

    ``df`` must contain ``pt_col``; all other columns are encoded.  Returns a
    DataFrame with BLOCKS_DDL_WITH_IDX schema holding the data blocks only
    (the group rows serve encode_job's manifest).  ``splan`` lets callers
    reuse a precomputed salt plan (it is also the resume granularity, so
    reusing it keeps groups stable across runs).
    """
    from pyspark.sql import functions as F

    df = flatten_struct_columns(df)
    if splan is None:
        splan = salt_plan(df, pt_col=pt_col, target_group_rows=target_group_rows)
    grouped = with_group(df, splan, pt_col=pt_col, conv_col=conv_col)
    return encode_grouped(
        grouped, key_cols=key_cols, pt_col=pt_col, plan=plan,
        block_rows=block_rows, num_partitions=sum(splan.values()),
    ).filter(F.col("codec") != GROUP_CODEC)


_BLOCKS_ARROW_FIELDS = [
    ("pt", "string"), ("grp", "string"), ("block_id", "int64"),
    ("column", "string"), ("col_idx", "int32"), ("codec", "string"),
    ("phys", "string"), ("n_rows", "int64"), ("n_nulls", "int64"),
    ("meta", "string"), ("payload", "binary"), ("orig_bytes", "int64"),
    ("enc_bytes", "int64"), ("checksum", "string"),
    ("zmin", "string"), ("zmax", "string"),
    ("cmin", "string"), ("cmax", "string"),
]


def make_encode_fn_arrow(
    columns: list[tuple[str, str]],
    sort_cols: list[str],
    plan: Mapping[str, str] | None,
    block_rows: int,
) -> Callable:
    """Arrow-native group encoder (``applyInArrow``): the group arrives as a
    pa.Table, is sorted and sliced zero-copy, and string columns reach the
    kernels as Arrow arrays — no pandas object boxing on the hot path."""
    schema = pa.schema([(n, getattr(pa, t)()) for n, t in _BLOCKS_ARROW_FIELDS])
    key_phys = dict(columns).get(sort_cols[0])

    def encode_group(key, tbl):  # no hints: pyspark infers eval type
        from .blocks import encode_block_arrow, pin_worker_threads
        from .selector import choose_codec_local

        pin_worker_threads()
        pt, grp = str(key[0]), str(key[1])
        try:
            tbl = tbl.sort_by([(c, "ascending") for c in sort_cols])
            rows = []
            n = tbl.num_rows
            for b, lo in enumerate(range(0, n, block_rows)):
                chunk = tbl.slice(lo, block_rows)
                # zone map: the chunk is key-sorted, so its key range is just
                # first/last non-null key (shared by every column block)
                import pyarrow.compute as pc

                mm = pc.min_max(chunk.column(sort_cols[0]))
                zmin = zone_key_value(mm["min"].as_py(), key_phys)
                zmax = zone_key_value(mm["max"].as_py(), key_phys)
                for ci, (col, phys) in enumerate(columns):
                    codec = None
                    if plan:
                        codec = plan.get(f"{pt}/{col}") or plan.get(col)
                    arr = chunk.column(col).combine_chunks()
                    if codec is None:
                        codec = choose_codec_local(arr, phys)
                    row = encode_block_arrow(pt, grp, b, col, arr, phys, codec)
                    row["col_idx"] = ci
                    row["zmin"], row["zmax"] = zmin, zmax
                    rows.append(row)
            rows.append(group_row(pt, grp, rows))
        except Exception as exc:  # noqa: BLE001 — isolate the poisoned group
            rows = [group_row(pt, grp, [], exc)]
        arrays = [
            pa.array([r[name] for r in rows], type=schema.field(name).type)
            for name, _ in _BLOCKS_ARROW_FIELDS
        ]
        return pa.Table.from_arrays(arrays, schema=schema)

    return encode_group


def encode_grouped(
    grouped,
    key_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    pt_col: str = "pt",
    plan: Mapping[str, str] | None = None,
    block_rows: int = DEFAULT_BLOCK_ROWS,
    num_partitions: int | None = None,
):
    """Encode a DataFrame that already carries the ``grp`` salt column.
    Each group yields its data block rows plus one group row (GROUP_CODEC).

    ``num_partitions`` should be ~the number of (pt, grp) groups: with the
    default shuffle partition count, hash collisions pile several groups
    into one reduce task and the stragglers cap throughput well below the
    core count (measured 2x).  The explicit repartition on the same keys is
    reused by the groupBy, so there is still exactly ONE shuffle.
    """
    from pyspark.sql import functions as F

    data_fields = [f for f in grouped.schema.fields if f.name not in (pt_col, "grp")]
    columns = [(f.name, spark_field_phys(f.dataType)) for f in data_fields]
    fn = make_encode_fn_arrow(columns, list(key_cols), plan, block_rows)
    if num_partitions:
        grouped = grouped.repartition(
            min(int(num_partitions), 8192), F.col(pt_col), F.col("grp")
        )
    return grouped.groupBy(pt_col, "grp").applyInArrow(fn, BLOCKS_DDL_WITH_IDX)
