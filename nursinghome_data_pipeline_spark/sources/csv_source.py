"""Config-driven CSV ingest (SURVEY §2.1 S1-S3, §2.3 P1-P4, §2.7 U1).

Reference behavior being re-expressed (NOT ported):

- glob-pattern scan + per-file read (``build.py:60-67``);
- column-name normalization (``build.py:7-8``);
- declared-type casts with coerce-to-null (``build.py:27-37``);
- missing-declared-column padding with NULLs (``build.py:73-74``);
- lineage columns ``source_file``/``ingestion_date`` (``build.py:75-76``);
- union of per-file frames (``build.py:78`` pd.concat);
- schema-predicate file filter (``calculate_metrics.py:46-49``).

Scale design: the reference loops file-by-file because pandas must.
Spark globs natively, but CSV parsing is *positional*, so files whose
header sets differ cannot share one read. We therefore sniff each
file's header (driver-side, first line only — cheap even for thousands
of files; at larger counts this listing step itself can be distributed
with ``spark.read.text(...).limit`` per path batch), group files by
exact header signature, and issue ONE ``spark.read.csv`` per header
group. Ingest cost is O(header-groups) Spark jobs, not O(files), and
each group scan is fully parallel across executors.
"""

from __future__ import annotations

import glob as _glob
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import ColumnSpec, DatasetSpec
from ..parallel import map_actions

#: normalization regex — lowercase, non-alphanumerics collapsed to _
#: (parity: norm(), build.py:7-8; e.g. "CMS Certification Number (CCN)"
#: → "cms_certification_number_ccn")
_NORM_RE = re.compile(r"[^0-9a-zA-Z]+")


def norm_name(name: str) -> str:
    return _NORM_RE.sub("_", name).strip("_").lower()


#: declared type → ANSI-safe cast builder (coerce-to-null semantics of
#: pandas ``errors="coerce"``, build.py:27-37, regardless of the
#: session's spark.sql.ansi.enabled).
_DATE_FORMATS = ("M/d/yyyy", "yyyy-M-d", "yyyyMMdd")


def cast_expr(c: F.Column, typ: str) -> F.Column:
    if typ == "string":
        return F.trim(c.cast("string"))
    if typ == "numeric":
        return c.try_cast("double")
    if typ == "int":
        return c.try_cast("long")
    if typ == "date":
        # try ISO cast first, then the CMS-style formats; first success wins
        return F.coalesce(
            c.try_cast("date"),
            *[F.try_to_timestamp(c, F.lit(fmt)).cast("date") for fmt in _DATE_FORMATS],
        )
    raise ValueError(f"unknown declared type: {typ}")


def sniff_header(path: str) -> tuple[str, ...]:
    """Read just the first line of a CSV (driver-side, bounded cost).

    A zero-byte file (partial download, touch placeholder) returns an
    empty header instead of leaking the iterator's bare StopIteration
    through the whole ingest run — callers treat () as
    matches-no-schema and skip the file."""
    import csv

    with open(path, newline="", encoding="utf-8-sig") as f:
        return tuple(next(csv.reader(f), ()))


def list_matching_files(base_dir: str, pattern: str) -> list[str]:
    return sorted(_glob.glob(os.path.join(base_dir, pattern)))


def group_by_header(paths: list[str]) -> dict[tuple[str, ...], list[str]]:
    groups: dict[tuple[str, ...], list[str]] = {}
    for p in paths:
        groups.setdefault(sniff_header(p), []).append(p)
    return groups


def files_with_columns(paths: list[str], required: set[str]) -> list[str]:
    """Schema-predicate scan (S3, calculate_metrics.py:46-49): keep files
    whose header contains every required column."""
    return [p for p in paths if required <= set(sniff_header(p))]


def read_csv_conformed(
    spark: SparkSession,
    paths: list[str],
    spec: DatasetSpec,
) -> DataFrame:
    """Read CSV files and conform them to the declared schema.

    Per header group: one all-string read (no inference pass — explicit
    schema means a single scan), normalized names, declared casts,
    NULL-padding for absent declared columns, lineage columns, then
    ``unionByName`` across groups.
    """
    declared: tuple[ColumnSpec, ...] = spec.columns
    frames: list[DataFrame] = []
    for header, group_paths in group_by_header(paths).items():
        normed = [norm_name(h) for h in header]
        schema = ", ".join(f"`{h}` STRING" for h in header)
        raw = (
            spark.read.schema(schema)
            .option("header", True)
            .option("mode", "PERMISSIVE")
            .csv(group_paths)
        )
        df = raw.toDF(*normed)
        declared_names = {c.name for c in declared}
        cols = [
            cast_expr(F.col(c.name), c.type).alias(c.name)
            if c.name in normed
            else F.lit(None).cast(_spark_type(c.type)).alias(c.name)
            for c in declared
        ]
        # undeclared header columns ride along untouched (reference keeps
        # them in staging — build.py:70-74 mutates only declared columns)
        extras = [F.col(n) for n in normed if n not in declared_names]
        df = df.select(
            *cols,
            *extras,
            F.element_at(F.split(F.input_file_name(), "/"), -1).alias("source_file"),
            F.current_date().alias("ingestion_date"),
        )
        frames.append(df)
    if not frames:
        raise FileNotFoundError(
            f"no files matched {spec.filename_pattern} for dataset {spec.name}"
        )
    out = frames[0]
    for f_ in frames[1:]:
        out = out.unionByName(f_, allowMissingColumns=True)
    return out


def _spark_type(typ: str) -> str:
    return {"string": "string", "numeric": "double", "int": "long", "date": "date"}[typ]


def ingest_dataset(
    spark: SparkSession, spec: DatasetSpec, base_dir: str
) -> DataFrame:
    """Glob + conform + union for one dataset spec (S1/U1 end-to-end)."""
    paths = list_matching_files(base_dir, spec.filename_pattern)
    return read_csv_conformed(spark, paths, spec)


def read_inferred_csvs(
    spark: SparkSession, directory: str, *, infer_schema: bool = True
) -> dict[str, DataFrame]:
    """Directory scan with schema inference (S2,
    load_nursing_home_data.py:50-51): one DataFrame per CSV, table name
    from the normalized file stem. The frames (and their header and
    inference jobs) are built concurrently. Two files whose stems
    normalize to the same name raise ``ValueError`` instead of one
    replacing the other.

    ``infer_schema=False`` skips the inference pass over each file: every
    column reads as a string, named from the header exactly as with
    inference (a blank name becomes ``_c<i>``, duplicates get a suffix),
    and a field is NULL in both modes alike."""
    paths: dict[str, str] = {}
    for p in sorted(_glob.glob(os.path.join(directory, "*.csv"))):
        stem = norm_name(os.path.splitext(os.path.basename(p))[0])
        if stem in paths:
            raise ValueError(
                f"{paths[stem]!r} and {p!r} both map to table name {stem!r}"
            )
        paths[stem] = p
    frames = map_actions(
        lambda p: spark.read.options(header=True, inferSchema=infer_schema).csv(p),
        paths.values(),
    )
    return dict(zip(paths, frames))
