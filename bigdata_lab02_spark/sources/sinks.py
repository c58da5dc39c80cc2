"""S3 — sinks.

The reference writes tab-separated text files with custom basenames and uses
Hadoop ``MultipleOutputs`` to emit several named outputs from one job
(``task2_2.java:316-355,530-533``), then renames away the ``-r-00000``
suffix (``task2_1.java:145-170``). Spark has no MultipleOutputs; the
idiomatic equivalent is N independent writes of N DataFrames — each one a
separate action over a shared cached upstream, which is both simpler and
lets AQE size each output independently.

Parquet is the engine's primary sink (columnar, splittable, predicate
pushdown on re-read); the text writers exist for reference-format parity.
"""

from __future__ import annotations

import re
import shutil
from collections.abc import Iterator
from contextlib import contextmanager
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_parquet(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_tsv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Tab-separated text, one file per partition — the reference's
    interchange format (``docid \\t termid \\t count`` etc.)."""
    cols = [F.col(c).cast("string") for c in df.columns]
    df.select(F.concat_ws("\t", *cols).alias("value")).write.mode(mode).text(path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON Lines, one object per row, one file per partition — the de
    facto training-shard interchange format (what tokenizer/loader stacks
    ingest). Spark's json writer IS JSONL (newline-delimited objects);
    this wrapper exists so shard export is a named sink beside the
    TSV/parquet ones, and to pin overwrite semantics."""
    df.write.mode(mode).json(path)


def read_jsonl(spark, path: str, schema) -> DataFrame:
    """Read a JSONL shard directory back with an EXPLICIT schema — schema
    inference on json is a full extra pass over the data and can widen
    types (int → bigint → double) differently per shard; a 100 TB reader
    never infers."""
    return spark.read.schema(schema).json(path)


_IDENT_RE = re.compile(r"[A-Za-z][A-Za-z0-9_]*")


def _check_ident(part: str, name: str) -> None:
    """The resolved name is interpolated into raw SQL (``DROP TABLE IF
    EXISTS {name}``) and a warehouse path — restrict each part to a plain
    unquoted identifier so a name with spaces/semicolons/quotes fails
    HERE with a clear message instead of confusing the parser or, worse,
    executing unintended SQL (ADVICE r9)."""
    if not _IDENT_RE.fullmatch(part):
        raise ValueError(
            f"table name {name!r}: part {part!r} must match "
            "[A-Za-z][A-Za-z0-9_]* (letters, digits, underscore; "
            "leading letter)"
        )


def bucketed_table_name(name: str) -> str:
    """Resolve the ``name@version`` convention to a Spark table
    identifier (``corpus@v3`` → ``corpus__v3`` — identifiers cannot
    carry ``@``). ``__`` is RESERVED as the resolved separator: a plain
    name containing it (or a malformed versioned name) is rejected so
    two distinct user-visible names can never resolve to — and silently
    clobber — the same table. Base and version are each restricted to
    plain SQL identifiers (see ``_check_ident``)."""
    if "@" in name:
        base, sep, version = name.partition("@")
        if not base or not version or "@" in version or "__" in name:
            raise ValueError(f"malformed versioned table name {name!r}")
        _check_ident(base, name)
        _check_ident(version, name)
        return f"{base}__{version}"
    if "__" in name:
        raise ValueError(
            f"table name {name!r} contains the reserved '__' separator; "
            "use the name@version convention instead"
        )
    _check_ident(name, name)
    return name


def read_bucketed(spark, name: str) -> DataFrame:
    """Read a ``write_bucketed`` table back, honoring ``name@version``."""
    return spark.table(bucketed_table_name(name))


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.

    Two tables bucketed on the same key with the same bucket count join
    WITHOUT an exchange — the co-location replaces the shuffle. This is the
    batch-layout lever for repeated large-to-large joins at 100 TB
    (fact-to-fact joins on orderkey, doc-to-doc self-joins on shingle
    buckets). Verified at the plan level in tests/test_bucketing.py.

    **Overwrite semantics**: an existing table of the same resolved name
    is DROPPED and its warehouse directory removed before the write —
    right for this sandbox's fresh-metastore runs, but destructive. A
    production curation pipeline should version its layouts instead of
    overwriting the live one: pass ``table_name`` as ``name@version``
    (``corpus_bands@v3``), which resolves to the identifier
    ``corpus_bands__v3`` — each corpus snapshot gets its own table, an
    in-flight rebuild never clobbers the layout readers are probing, and
    cutover is just pointing readers at the new version
    (``read_bucketed(spark, 'corpus_bands@v4')``)."""
    spark = df.sparkSession
    table_name = bucketed_table_name(table_name)
    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    # a previous session's managed-table directory outlives the (fresh)
    # metastore; an orphan location fails saveAsTable with
    # LOCATION_ALREADY_EXISTS — remove it explicitly
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    loc = Path(warehouse.removeprefix("file:")) / table_name.lower()
    if loc.exists():
        shutil.rmtree(loc, ignore_errors=True)
    w = (
        df.write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


@contextmanager
def journaled(spark, path: str) -> Iterator[None]:
    """Commit journal for a multi-write layout under ``path``: writes
    'pending' to ``journal/`` before the body's first mutating write and
    'committed' after the body returns. A crash or task-retry storm in
    between leaves 'pending' (or a half-written journal dir, which reads
    the same), and ``require_committed`` refuses the layout.

    The one-row overwrite is built JVM-side (range(1) + lit), never from
    a Python local list: ``createDataFrame([...])`` pays a Python-worker
    round-trip per write, measured ~4.5 s vs 0.2 s (BENCHNOTES)."""

    def mark(state: str) -> None:
        spark.range(1).select(F.lit(state).alias("state")).coalesce(
            1
        ).write.mode("overwrite").parquet(f"{path}/journal")

    mark("pending")
    yield
    mark("committed")


def require_committed(spark, path: str, what: str, remedy: str) -> None:
    """Raise ValueError unless the ``journaled`` layout at ``path`` reads
    back exactly one 'committed' row. ``what`` names the layout in the
    message and ``remedy`` says how to recover."""
    try:
        rows = spark.read.parquet(f"{path}/journal").collect()
    except Exception as exc:
        raise ValueError(
            f"{what} at {path}: journal unreadable ({exc}) — unbuilt, "
            f"pre-journal or crashed layout; {remedy}"
        ) from None
    states = [r["state"] for r in rows]
    if states != ["committed"]:
        raise ValueError(
            f"{what} at {path}: journal reads {states} != ['committed'] "
            f"— a write crashed mid-flight; {remedy}"
        )


def write_multi(outputs: dict[str, DataFrame], root: str, fmt: str = "parquet") -> None:
    """MultipleOutputs analog: ``{name: df}`` → ``<root>/<name>/`` each.

    Callers should ``.cache()`` any shared upstream before invoking — each
    entry is an independent action.
    """
    for name, df in outputs.items():
        if fmt == "parquet":
            write_parquet(df, f"{root}/{name}")
        else:
            write_tsv(df, f"{root}/{name}")
