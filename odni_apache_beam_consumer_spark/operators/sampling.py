"""Deterministic sampling / dataset splitting for training pipelines.

Splits must be (a) reproducible across runs and engines, (b) stable under
corpus growth — a document's split never changes when other documents are
added — and (c) computable without a shuffle.  Hash-based assignment gives
all three: bucket = first two hex digits of md5(salt || id) ∈ [0, 256),
thresholds carve train/val/test.  Pure column expression (one map-side
pass, no state), and md5 is portable so the DuckDB oracle reproduces the
exact assignment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window
from pyspark.sql import functions as F

_FIND = {"spark": "instr", "duckdb": "strpos"}
_TEXT = {"spark": "STRING", "duckdb": "VARCHAR"}


def md5_key(salt: str, *cols: str, dialect: str = "spark") -> str:
    """SQL text of ``md5(salt || col1 || ':' || col2 ...)``, each column
    cast to text, in the ``spark`` or ``duckdb`` dialect."""
    text = ", ':', ".join(f"CAST({c} AS {_TEXT[dialect]})" for c in cols)
    if salt:
        text = f"'{salt}', {text}"
    return f"md5(concat({text}))" if salt or len(cols) > 1 else f"md5({text})"


def hex_rank(m: str, pos: int | str, dialect: str = "spark") -> str:
    """1-based rank in the hex alphabet of the md5 text ``m``'s digit at
    1-based ``pos``: the digit's value plus one, so it can index a
    16-element array directly."""
    return f"{_FIND[dialect]}('0123456789abcdef', substr({m}, {pos}, 1))"


def hex_digits(
    m: str, start: int | str = 1, width: int = 2, dialect: str = "spark"
) -> str:
    """SQL text of the integer value of ``width`` hex digits of the md5
    text ``m``, from 1-based ``start`` (an int or an SQL expression).

    The one owner of the package's portable hash arithmetic: md5 is
    bit-identical across engines, and reading its digits through
    ``instr`` (Spark) / ``strpos`` (DuckDB) avoids every engine-specific
    base conversion, so each oracle reproduces the exact value.  Width 1
    renders one parenthesized digit; a wider value is a bare sum of
    digit * 16^k terms, to be parenthesized before ``*``, ``%`` or
    ``DIV``."""
    terms = []
    for i in range(width):
        if isinstance(start, int):
            pos = start + i
        else:
            pos = f"{start} + {i}" if i else start
        d = f"({hex_rank(m, pos, dialect)} - 1)"
        terms.append(f"{d} * {16 ** (width - 1 - i)}" if i < width - 1 else d)
    return " + ".join(terms)


def hash_bucket(id_col: str, salt: str = "split") -> Column:
    """Deterministic bucket in [0, 256) from two md5 hex digits."""
    return F.expr(f"CAST({hex_digits(md5_key(f'{salt}:', id_col))} AS INT)")


def with_split(
    df: DataFrame,
    id_col: str = "doc_id",
    salt: str = "split",
    train_lt: int = 205,  # 205/256 ≈ 80%
    val_lt: int = 230,  # next 25/256 ≈ 10%
    out: str = "split",
) -> DataFrame:
    """Assign train/val/test deterministically by hash bucket."""
    b = hash_bucket(id_col, salt)
    return df.withColumn("bucket", b).withColumn(
        out,
        F.when(F.col("bucket") < train_lt, "train")
        .when(F.col("bucket") < val_lt, "val")
        .otherwise("test"),
    )


def duck_bucket_sql(id_col: str = "doc_id", salt: str = "split") -> str:
    """The DuckDB expression computing the identical bucket (for oracles)."""
    return f"({hex_digits(md5_key(f'{salt}:', id_col, dialect='duckdb'), dialect='duckdb')})"


# ---------------------------------------------------------------------------
# Stratified sampling
# ---------------------------------------------------------------------------


def stratum_thresholds(fractions: dict[str, float]) -> dict[str, int]:
    """Per-stratum keep-threshold out of 256 (granularity 1/256 ≈ 0.4%)."""
    return {k: round(v * 256) for k, v in fractions.items()}


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat",
) -> DataFrame:
    """Keep ~fraction of each stratum, deterministically: a row survives
    iff its hash bucket < round(fraction*256).  Same properties as
    ``with_split`` — reproducible, stable under growth, map-side only
    (a plain filter; Catalyst pushes it into the scan).  Strata not in
    ``fractions`` are dropped (fraction 0)."""
    b = hash_bucket(id_col, salt)
    thr = stratum_thresholds(fractions)
    cond = F.lit(None).cast("int")
    for k, t in thr.items():
        cond = F.when(F.col(stratum_col) == k, F.lit(t)).otherwise(cond)
    return df.where(b < F.coalesce(cond, F.lit(0)))


def duck_stratified_where(
    stratum_col: str,
    fractions: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "strat",
) -> str:
    """The DuckDB WHERE clause mirroring ``stratified_sample``."""
    thr = stratum_thresholds(fractions)
    cases = " ".join(f"WHEN '{k}' THEN {t}" for k, t in thr.items())
    return (
        f"{duck_bucket_sql(id_col, salt)} < "
        f"(CASE {stratum_col} {cases} ELSE 0 END)"
    )


# ---------------------------------------------------------------------------
# Deterministic corpus shuffle: scalable global order index
# ---------------------------------------------------------------------------


def global_order_index(
    df: DataFrame,
    key_col: str,
    out: str = "pos",
    n_parts: int | None = None,
) -> DataFrame:
    """0-based global rank of ``key_col`` without a single-partition sort.

    ``row_number() OVER (ORDER BY key)`` with no PARTITION BY collapses
    100 TB onto one reducer.  The scalable shape is the classic two-phase
    index: range-partition by key (equal keys co-located, partitions
    globally ordered), per-partition row_number, then add each
    partition's cumulative row-count offset.  The only driver-side data
    is one count per partition — metadata-sized, same class as the range
    partitioner's boundary sample.  Used with a hash key
    (md5(seed || id)) this is a deterministic full-corpus shuffle for
    training-order randomization."""
    n = int(
        n_parts
        if n_parts is not None
        else df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    part = (
        df.repartitionByRange(n, F.col(key_col))
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint()  # one compute shared by counts + final plan
    )
    counts = part.groupBy("__pid").count().collect()
    offsets: dict[int, int] = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["__pid"]):
        offsets[r["__pid"]] = acc
        acc += r["count"]
    omap = F.create_map(
        *[F.lit(x) for pid_off in offsets.items() for x in pid_off]
    )
    w = Window.partitionBy("__pid").orderBy(key_col)
    return (
        part.withColumn(
            out,
            (F.row_number().over(w) + omap[F.col("__pid")] - 1).cast("long"),
        )
        .drop("__pid")
    )


def with_kfold(
    df: DataFrame,
    k: int = 5,
    id_col: str = "doc_id",
    salt: str = "kfold",
    out: str = "fold",
) -> DataFrame:
    """Deterministic k-fold assignment: fold = md5-bucket(id) mod k.

    Same hash-bucket machinery as ``with_split``, so folds share its
    guarantees: a document's fold never changes as the corpus grows
    (critical — re-folding on every data refresh leaks eval docs into
    training), assignment is reproducible from the id alone on any
    engine, and expected fold sizes are n/k with multinomial jitter."""
    return df.withColumn(out, hash_bucket(id_col, salt) % k)
