"""Schema evolution: LCA type promotion + union-by-name evolve.

Re-expresses the reference's type system (SURVEY.md §1.2) for Spark
schemas:

- the promotion lattice is a fixed parent tree
  (types/type_schema.go:206-235):
      boolean < int < bigint < double < string
      float a child of double
      timestamp < t_milli < t_micro < t_nano < string
  and a conflicted column resolves to the two types' lowest common
  ancestor (types/type_schema.go:238-274).
- destination-side evolution is *restricted*: only int→bigint and
  float→double are in-place promotions
  (destination/iceberg/iceberg.go:477-484); any other mismatch is
  valid only when the LCA equals the already-stored type (no-op,
  iceberg.go:463-474) — otherwise the caller must do a full
  REFRESH_TABLE_SCHEMA (iceberg.go:428-439). New columns are added
  union-by-name (IcebergTableOperator.java:96-109).

Spark note: all four reference timestamp precisions map to one
physical timestamptz (types/data_types.go:121-138), so inside Spark
the timestamp chain collapses to TimestampType; the chain is still
modeled here because LCA resolution happens *before* the physical
mapping, exactly as in the reference.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import types as T

# internal type names (types/data_types.go:10-27)
NULL = "null"
BOOL = "boolean"
INT32 = "integer_small"
INT64 = "integer"
FLOAT32 = "number_small"
FLOAT64 = "number"
STRING = "string"
TS = "timestamp"
TS_MILLI = "timestamp_milli"
TS_MICRO = "timestamp_micro"
TS_NANO = "timestamp_nano"

# child -> parent edges (types/type_schema.go:206-235)
_PARENT = {
    BOOL: INT32,
    INT32: INT64,
    INT64: FLOAT64,
    FLOAT32: FLOAT64,
    FLOAT64: STRING,
    TS: TS_MILLI,
    TS_MILLI: TS_MICRO,
    TS_MICRO: TS_NANO,
    TS_NANO: STRING,
}


def _ancestors(t: str) -> list[str]:
    chain = [t]
    while t in _PARENT:
        t = _PARENT[t]
        chain.append(t)
    return chain


def lca(a: str, b: str) -> str:
    """Lowest common ancestor in the promotion tree
    (types/type_schema.go:238-274). NULL is the identity."""
    if a == NULL or a == b:
        return b
    if b == NULL:
        return a
    anc_a = _ancestors(a)
    set_a = set(anc_a)
    for t in _ancestors(b):
        if t in set_a:
            return t
    return STRING  # the tree root — unreachable unless types are alien


_SPARK_TO_INTERNAL = {
    T.BooleanType(): BOOL,
    T.IntegerType(): INT32,
    T.ShortType(): INT32,
    T.ByteType(): INT32,
    T.LongType(): INT64,
    T.FloatType(): FLOAT32,
    T.DoubleType(): FLOAT64,
    T.StringType(): STRING,
    T.TimestampType(): TS_MICRO,
    T.TimestampNTZType(): TS_MICRO,
    T.DateType(): TS,
}

_INTERNAL_TO_SPARK = {
    BOOL: T.BooleanType(),
    INT32: T.IntegerType(),
    INT64: T.LongType(),
    FLOAT32: T.FloatType(),
    FLOAT64: T.DoubleType(),
    STRING: T.StringType(),
    # all timestamp precisions land on one physical timestamptz
    # (types/data_types.go:121-138)
    TS: T.TimestampType(),
    TS_MILLI: T.TimestampType(),
    TS_MICRO: T.TimestampType(),
    TS_NANO: T.TimestampType(),
}


def internal_of(dt: T.DataType) -> str:
    """Spark type → internal type; nested/binary/etc → string (the
    flattener JSON-stringifies them, utils/typeutils/flatten.go:42-57)
    except binary which stays binary on the audio path."""
    return _SPARK_TO_INTERNAL.get(dt, STRING)


def spark_of(internal: str) -> T.DataType:
    return _INTERNAL_TO_SPARK[internal]


# allowed in-place promotions (iceberg.go:477-484)
_ALLOWED_PROMOTIONS = {(INT32, INT64), (FLOAT32, FLOAT64)}


@dataclass
class SchemaDiff:
    new_columns: list[T.StructField] = field(default_factory=list)
    promotions: dict[str, tuple[str, str]] = field(default_factory=dict)  # col -> (old, new)
    refresh_required: dict[str, tuple[str, str]] = field(default_factory=dict)

    @property
    def is_noop(self) -> bool:
        return not (self.new_columns or self.promotions or self.refresh_required)


def diff_schemas(current: T.StructType, batch: T.StructType) -> SchemaDiff:
    """Per-batch schema change detection (iceberg.go:270-363).

    Missing columns in the batch are fine (written as null); binary
    columns never promote (audio payloads are opaque)."""
    diff = SchemaDiff()
    cur = {f.name: f for f in current.fields}
    for f in batch.fields:
        old = cur.get(f.name)
        if old is None:
            diff.new_columns.append(T.StructField(f.name, f.dataType, True))
            continue
        if old.dataType == f.dataType or isinstance(old.dataType, T.BinaryType):
            continue
        a, b = internal_of(old.dataType), internal_of(f.dataType)
        resolved = lca(a, b)
        if resolved == a:
            continue  # LCA equals stored type → keep, cast batch at write
        if (a, resolved) in _ALLOWED_PROMOTIONS:
            diff.promotions[f.name] = (a, resolved)
        else:
            diff.refresh_required[f.name] = (a, resolved)
    return diff


def evolved_schema(current: T.StructType, diff: SchemaDiff) -> T.StructType:
    out = []
    for f in current.fields:
        if f.name in diff.promotions:
            out.append(T.StructField(f.name, spark_of(diff.promotions[f.name][1]), True))
        else:
            out.append(f)
    out.extend(diff.new_columns)
    return T.StructType(out)


class RefreshRequired(Exception):
    """LCA is neither the stored type nor an allowed promotion —
    the reference escalates to REFRESH_TABLE_SCHEMA (iceberg.go:428-439)."""


def evolve(table, batch_schema: T.StructType, allow_refresh: bool = False):
    """Union-by-name evolve of a Table's schema; commits a new
    metadata version. Returns the SchemaDiff applied.

    Mirrors the EVOLVE_SCHEMA path: skip no-op commits
    (IcebergTableOperator.java:96-109); raise on refresh-required
    unless allow_refresh. A refresh-level change (the LCA is neither
    the stored type nor a parquet-readable widening, e.g.
    int → string) REWRITES the existing data files cast to the new
    schema and flips the schema in the same atomic commit — Spark's
    parquet reader only tolerates int→long / float→double widenings,
    so a metadata-only flip would leave every old file unreadable
    (the reference escalates exactly this case to a full resync,
    iceberg.go:428-439)."""

    def resolve(current: T.StructType) -> SchemaDiff:
        d = diff_schemas(current, batch_schema)
        if allow_refresh:
            d.promotions.update(d.refresh_required)
            d.refresh_required = {}
        return d

    diff = resolve(table.schema)
    if diff.refresh_required:
        raise RefreshRequired(str(diff.refresh_required))
    if diff.is_noop:
        return diff
    needs_rewrite = allow_refresh and any(
        (old, new) not in _ALLOWED_PROMOTIONS for old, new in diff.promotions.values()
    )
    if needs_rewrite and table.data_entries():

        def attempt(t):
            # re-derived per attempt, like the metadata-only path below
            target = evolved_schema(t.schema, resolve(t.schema))
            entries = t.entries()
            new_entries = t.write_datafiles(align_batch(t.scan(), target))
            return {e.path for e in entries}, new_entries, {
                "operation": "refresh-schema",
                "summary": {"refreshed-columns": list(diff.promotions)},
                "schema_json": target.json(),
            }

        table.rewrite(attempt)
    else:
        # metadata-only: re-derive the diff against the refreshed
        # schema on every retry (no lost concurrent schema commits)
        table.update_schema(
            evolved_schema(table.schema, diff),
            rebuild=lambda cur: evolved_schema(cur, resolve(cur)),
        )
    return diff


def align_batch(df, target: T.StructType):
    """Cast/pad a batch DataFrame to the table schema: missing columns
    become nulls, mismatched types cast to the stored (LCA) type —
    the write-side half of the evolution contract."""
    from pyspark.sql import functions as F

    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            src = have[f.name]
            cols.append(
                F.col(f.name) if src.dataType == f.dataType
                else F.col(f.name).cast(f.dataType).alias(f.name)
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
