"""Relationalize: recursively flatten nested DataFrames into a tree of flat
tables linked by surrogate keys.

This is the one genuinely custom operator of the engine — the Spark-first
re-expression of Glue's ``DynamicFrame.relationalize`` plus the reference's
``add_index_to_table`` repair step (reference: src/glue/jobs/
json_s3_to_parquet.py:105-177, invoked at :199-224; output contract
documented in schemas/BridgeDownstream.json:8-16 — ``id`` is the "foreign
key of the parent dataset", ``index`` the "position of this element in the
original JSON array").

Output contract (matches the reference's golden test,
tests/test_json_s3_to_parquet.py:387-425):

- **root table**: struct fields flattened to ``parent_child`` columns;
  each ``array`` column replaced by a surrogate key column of the same
  name (``id`` of the child table, NULL when the array was NULL).
- **child table** per array field, named ``{root}_{field}`` (nested:
  ``{root}_{field}_{subfield}``, i.e. ``.val.`` → ``_`` per reference
  json_s3_to_parquet.py:211-217): columns
  ``id, index, <flattened element fields>, <inherited key columns>``.
  A scalar array's value column is named ``{field}_val``
  (reference json_s3_to_parquet.py:166-169). On flattened-name collision
  the already-present column keeps the short name and the newcomer keeps
  its path-qualified name (reference's duplicate-name guard,
  json_s3_to_parquet.py:172-174). Two distinct array paths that flatten
  to the same child-table name raise ``ValueError`` instead of silently
  overwriting.

Surrogate-id semantics (Glue assigns a unique transient id per parent row,
json_s3_to_parquet.py:151-160; ours must match that per-row uniqueness or a
root→child join fans out):

- ``unique_keys=True`` (default contract): ``key_cols`` uniquely identify
  parent rows — exactly what the reference pipeline guarantees post
  dedup-latest (recordid is unique in the lake). The id is then
  ``xxhash64(table_path, *key_cols)``: row-unique, stable across runs
  (idempotent rewrites), and **shuffle-free** — the whole table tree is
  narrow transformations over one scan. Cheaper than hashing array bodies.
- ``unique_keys=False``: duplicate keys are possible (pre-dedup data). A
  per-row salt — ``row_number`` over a window partitioned by the key
  columns, ordered by the remaining columns for determinism — is mixed
  into the hash, making ids row-unique at the cost of one shuffle. Rows
  that are *fully* identical are interchangeable, so the arbitrary order
  among them cannot change any join result.

Children always recurse through the fast path: their link columns
``(id, index)`` are row-unique by construction.

Id width: 64-bit ids have birthday-collision odds around a few billion
distinct parent rows *per table path*. ``wide_ids=True`` switches the id
columns to 128-bit md5 hex strings (collision-free for practical purposes)
at the cost of 16 extra bytes/row and string joins; the default stays
BIGINT for parity with the reference's integer ids.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

__all__ = ["has_nested_fields", "relationalize"]

#: Key columns every table inherits, in the reference's output order
#: (reference: json_s3_to_parquet.py:151-155 — parent index selects
#: [field, assessmentid, year, month, day, recordid]).
DEFAULT_KEY_COLS = ("assessmentid", "year", "month", "day", "recordid")

_SALT = "__row_salt__"


def has_nested_fields(schema: T.StructType) -> bool:
    """True if any top-level field is an array or struct — i.e. the table
    must be relationalized before it can be written flat.

    Reference: json_s3_to_parquet.py:37-57.
    """
    return any(
        isinstance(f.dataType, (T.ArrayType, T.StructType)) for f in schema.fields
    )


def _unique_name(wanted: str, taken: set[str], fallback: str) -> str:
    """Duplicate-name guard: prefer ``wanted``; on collision keep the
    path-qualified ``fallback`` (reference json_s3_to_parquet.py:172-174
    keeps the original prefixed name for duplicates)."""
    if wanted not in taken:
        return wanted
    if fallback not in taken:
        return fallback
    i = 1
    while f"{fallback}_{i}" in taken:
        i += 1
    return f"{fallback}_{i}"


def _flatten_structs(df: DataFrame, protected: set[str]) -> DataFrame:
    """Flatten all top-level struct columns to ``parent_child`` columns,
    repeatedly, until no struct remains. Arrays are left in place (they
    become child tables). Pure projection — narrow, no shuffle."""
    while True:
        struct_fields = [
            f
            for f in df.schema.fields
            if isinstance(f.dataType, T.StructType) and f.name not in protected
        ]
        if not struct_fields:
            return df
        taken = {c for c in df.columns}
        cols: list[Column] = []
        for f in df.schema.fields:
            if isinstance(f.dataType, T.StructType) and f.name not in protected:
                taken.discard(f.name)
                for sub in f.dataType.fields:
                    name = _unique_name(
                        f"{f.name}_{sub.name}", taken, f"{f.name}_{sub.name}"
                    )
                    taken.add(name)
                    cols.append(F.col(f.name).getField(sub.name).alias(name))
            else:
                cols.append(F.col(f.name))
        df = df.select(*cols)


def _surrogate_id(path: str, link_cols: list[str], wide: bool) -> Column:
    """Row-unique surrogate key for one array column: hash of the table
    path plus the row-identifying link columns (see module docstring)."""
    parts = [F.lit(path), *[F.col(c) for c in link_cols]]
    if wide:
        return F.md5(F.to_json(F.struct(*parts)))
    return F.xxhash64(*parts)


def _with_row_salt(df: DataFrame, link_cols: list[str]) -> DataFrame:
    """Add a deterministic per-row salt so ids stay unique when the link
    columns do not identify rows. One shuffle (window); order among fully
    identical rows is arbitrary but those rows are interchangeable."""
    order_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in link_cols and not isinstance(f.dataType, T.MapType)
    ]
    if link_cols:
        w = Window.partitionBy(*link_cols).orderBy(*(order_cols or link_cols))
    else:
        w = Window.partitionBy().orderBy(*order_cols)
    return df.withColumn(_SALT, F.row_number().over(w))


def relationalize(
    df: DataFrame,
    name: str,
    key_cols: tuple[str, ...] = DEFAULT_KEY_COLS,
    unique_keys: bool = True,
    wide_ids: bool = False,
) -> dict[str, DataFrame]:
    """Flatten ``df`` into ``{table_name: flat DataFrame}``.

    ``key_cols`` (those present in ``df``) are inherited by every child
    table, appended after the element fields in the given order. With
    ``unique_keys=True`` (the contract default) they must uniquely identify
    rows of ``df``; pass ``unique_keys=False`` for pre-dedup inputs to mix
    a per-row salt into the surrogate ids (adds one shuffle). The root
    table is returned under ``name``; children under ``{name}_{field}``
    etc. Parent tables always sort before their children (same guarantee
    the reference gets from ``sorted(keys)``, json_s3_to_parquet.py:204).
    A frame with no array or struct field has nothing to flatten or link
    and comes back as ``{name: df}``, unsalted.
    """
    if not has_nested_fields(df.schema):
        return {name: df}
    present_keys = [c for c in key_cols if c in df.columns]
    salted = not unique_keys or not present_keys
    if salted:
        df = _with_row_salt(df, present_keys)
    out: dict[str, DataFrame] = {}
    _relationalize_level(
        df,
        name,
        link_cols=present_keys + ([_SALT] if salted else []),
        inherit_cols=present_keys,
        out=out,
        wide_ids=wide_ids,
    )
    return dict(sorted(out.items()))


def _relationalize_level(
    df: DataFrame,
    name: str,
    link_cols: list[str],
    inherit_cols: list[str],
    out: dict[str, DataFrame],
    wide_ids: bool,
) -> None:
    # 1. Flatten structs (never the linking/inherited columns themselves).
    df = _flatten_structs(df, protected=set())

    # 2. Each array column becomes a child table; the parent keeps a
    #    surrogate-key column under the array's name.
    array_fields = [
        f.name for f in df.schema.fields if isinstance(f.dataType, T.ArrayType)
    ]
    for field in array_fields:
        child_name = f"{name}_{field}"
        if child_name in out:
            raise ValueError(
                f"relationalize: child table name collision on {child_name!r} "
                "(two distinct array paths flatten to the same name)"
            )
        sid = _surrogate_id(child_name, link_cols, wide_ids)
        id_col = F.when(F.col(field).isNotNull(), sid)

        elem_type = df.schema[field].dataType.elementType
        exploded = (
            df.where(F.col(field).isNotNull())
            .select(
                sid.alias("id"),
                F.posexplode(field).alias("index", "__val__"),
                *[F.col(c) for c in inherit_cols],
            )
        )
        if isinstance(elem_type, T.StructType):
            taken = {"id", "index", *inherit_cols}
            elem_cols: list[Column] = []
            for sub in elem_type.fields:
                n = _unique_name(sub.name, taken, f"{field}_{sub.name}")
                taken.add(n)
                elem_cols.append(F.col("__val__").getField(sub.name).alias(n))
            child = exploded.select("id", "index", *elem_cols, *inherit_cols)
        else:
            # scalar (or array-of-array) element → single value column
            val_name = f"{field}_val"
            child = exploded.select(
                "id", "index", F.col("__val__").alias(val_name), *inherit_cols
            )

        # Recurse: the child may itself contain structs/arrays. Its rows are
        # linked by (id, index) — row-unique by construction, so children
        # always take the shuffle-free fast path.
        _relationalize_level(
            child,
            child_name,
            link_cols=["id", "index"],
            inherit_cols=inherit_cols,
            out=out,
            wide_ids=wide_ids,
        )

        # Parent: replace the array column with the surrogate key.
        df = df.withColumn(field, id_col)

    if _SALT in df.columns:
        df = df.drop(_SALT)
    out[name] = df
