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
from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

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
    """Read just the header line of a CSV (driver-side, bounded cost),
    split as Spark's CSV reader splits it by default.

    Like Spark, leading blank and whitespace-only lines are skipped and
    the header is the first line with content. A file with none (zero
    bytes, a partial download, a touch placeholder) returns an empty
    header; callers treat () as matches-no-schema and skip the file."""
    with open(path, newline="", encoding="utf-8-sig") as f:
        line = next((ln for ln in f if ln.strip()), "")
    return tuple(_split_csv_line(line.rstrip("\r\n"))) if line else ()


def _split_csv_line(line: str) -> list[str]:
    """Fields of one CSV line under Spark's default dialect (``,``
    separator, ``"`` quote, ``\\`` escape, an unescaped quote inside a
    quoted field keeping the field's raw text up to the next
    separator), which differs from RFC 4180: ``"a""b"`` stays
    ``"a""b"`` and ``"a\\"b"`` reads ``a"b``."""
    fields, i, n = [], 0, len(line)
    while True:
        if i < n and line[i] == '"':
            value, i = [], i + 1
            while i < n:
                c = line[i]
                if c == "\\" and i + 1 < n and line[i + 1] in '"\\':
                    value.append(line[i + 1])
                    i += 2
                elif c == '"':
                    j = i + 1
                    while j < n and line[j] in " \t":
                        j += 1
                    if j == n or line[j] == ",":
                        i = j
                        break
                    # an unescaped quote: the field is its raw text
                    end = line.find(",", i)
                    end = n if end < 0 else end
                    value = ['"', *value, line[i:end]]
                    i = end
                    break
                else:
                    value.append(c)
                    i += 1
            fields.append("".join(value))
        else:
            end = line.find(",", i)
            end = n if end < 0 else end
            fields.append(line[i:end])
            i = end
        if i >= n:
            return fields
        i += 1  # past the separator


def safe_header(header: tuple[str, ...], *, case_sensitive: bool = False) -> list[str]:
    """The column names Spark's CSV reader gives ``header``
    (``CSVUtils.makeSafeHeader``): a blank name becomes ``_c<i>``, and a
    name that occurs more than once, compared case-insensitively unless
    ``case_sensitive``, becomes ``<name><i>``, ``i`` its position."""
    key = (lambda h: h) if case_sensitive else str.lower
    seen = Counter(key(h) for h in header if h)
    return [
        f"_c{i}" if not h else f"{h}{i}" if seen[key(h)] > 1 else h
        for i, h in enumerate(header)
    ]


def string_schema(names) -> StructType:
    """An all-string read schema with ``names`` verbatim (no DDL text,
    so a name may hold any character)."""
    return StructType([StructField(n, StringType()) for n in names])


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
        raw = (
            spark.read.schema(string_schema(header))
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

    ``infer_schema=False`` reads every column as a string and runs no
    job: the names come from :func:`sniff_header` through
    :func:`safe_header`, so they are the names Spark's own header pass
    would give, and a field is NULL in both modes alike."""
    paths: dict[str, str] = {}
    for p in sorted(_glob.glob(os.path.join(directory, "*.csv"))):
        stem = norm_name(os.path.splitext(os.path.basename(p))[0])
        if stem in paths:
            raise ValueError(
                f"{paths[stem]!r} and {p!r} both map to table name {stem!r}"
            )
        paths[stem] = p
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"

    def read(p: str) -> DataFrame:
        if infer_schema:
            return spark.read.options(header=True, inferSchema=True).csv(p)
        names = safe_header(sniff_header(p), case_sensitive=case_sensitive)
        return spark.read.schema(string_schema(names)).option("header", True).csv(p)

    frames = map_actions(read, paths.values())
    return dict(zip(paths, frames))
