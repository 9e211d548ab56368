"""Driver-local Arrow I/O for pandas frames.

A pandas frame handed to :meth:`DataFrameEngine.save` already sits in
driver memory, and :meth:`DataFrameClient.get_dataframe` hands one back.
Sending either through the JVM costs a Spark job per call, and the Hadoop
local filesystem a ``chmod`` fork per file and directory it creates (no
libhadoop). This module writes and reads a version's parquet files with
``pyarrow`` instead, while keeping every stored value and returned dtype
Spark's by construction: it runs pyspark's own conversion code.

* Write: the Spark schema is inferred exactly as ``createDataFrame(pdf)``
  infers it (``from_arrow_schema`` over ``pa.Schema.from_pandas``); the
  record batch comes from ``ArrowStreamPandasSerializer._create_batch``,
  the converter ``createDataFrame`` itself runs; timestamps are written as
  micros.
* Layout: the same Hive-style ``__p_<col>=<value>/`` directories Spark
  writes — ``yyyy-MM-dd`` of the value in the session time zone for Date
  keys, ``from_<lo>_to_<hi>`` floor buckets for ID keys,
  ``__HIVE_DEFAULT_PARTITION__`` for NULL — with at most 100K rows per
  file, each file renamed into place once complete.
* Read: the caller lists the files (``DataFrameEngine._version_files``,
  Spark's hidden-file rule); they are read with
  ``pyarrow.dataset`` against the manifest schema (missing columns read as
  NULL, INT96 files as micros), and converted the way ``DataFrame.toPandas``
  converts Arrow batches.

Whatever this module does not reproduce exactly — Arrow disabled in the
session, an empty frame, a Date key that is not a date/timestamp, an ID key
that is not an integer, a schema Arrow cannot represent — returns ``None``
and the caller takes the Spark path.
"""

from __future__ import annotations

import datetime
import os
import uuid
from typing import Dict, List, Optional

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as pads
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from .engine import id_bucket_label

DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"
MAX_ROWS_PER_FILE = 100_000  # the Spark writer's maxRecordsPerFile
_DATE_KEY_TYPES = (T.TimestampType, T.TimestampNTZType, T.DateType)
_ID_KEY_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_MICROS_PER_DAY = 86_400_000_000
_EPOCH_ORDINAL = datetime.date(1970, 1, 1).toordinal()
# characters Spark's ExternalCatalogUtils.escapePathName percent-encodes
_PATH_ESCAPES = frozenset('"#%\'*/:=?\\\x7f{[]^') | frozenset(map(chr, range(1, 32)))


def _escape_path_name(s: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _PATH_ESCAPES else c for c in s)


def _arrow_enabled(spark: SparkSession) -> bool:
    return bool(spark._jconf.arrowPySparkEnabled())


class LocalFrame:
    """A pandas frame converted to one Arrow table, exactly as
    ``createDataFrame`` converts it, plus the Spark schema it infers."""

    def __init__(self, pdf: pd.DataFrame, schema: T.StructType, table: pa.Table, timezone: str):
        self.pdf = pdf
        self.schema = schema
        self.table = table
        self.timezone = timezone

    @classmethod
    def from_pandas(cls, spark: SparkSession, pdf: pd.DataFrame) -> Optional["LocalFrame"]:
        """The converted frame, or None where ``createDataFrame`` would not
        take its Arrow path (or would fail on it)."""
        from pyspark.sql.pandas.serializers import ArrowStreamPandasSerializer
        from pyspark.sql.pandas.types import (
            _deduplicate_field_names,
            from_arrow_schema,
            to_arrow_schema,
            to_arrow_type,
        )
        from pyspark.sql.utils import is_timestamp_ntz_preferred

        if len(pdf) == 0 or not _arrow_enabled(spark):
            return None
        names = [str(x) for x in pdf.columns]
        if len(set(names)) != len(names):
            return None
        jconf = spark._jconf
        dict_as_map = spark.conf.get("spark.sql.execution.pandas.inferPandasDictAsMap", "false")
        if str(dict_as_map).lower() == "true":
            return None
        # createDataFrame leaves its own Arrow path on any exception; so
        # does this one, so the two pick the same path for every frame
        try:
            inferred = from_arrow_schema(
                pa.Schema.from_pandas(pdf, preserve_index=False),
                prefer_timestamp_ntz=is_timestamp_ntz_preferred(),
            )
            schema = T.StructType(
                [T.StructField(n, f.dataType, f.nullable) for n, f in zip(names, inferred.fields)]
            )
            large = jconf.arrowUseLargeVarTypes()
            to_arrow_schema(schema, prefers_large_types=large)
            timezone = jconf.sessionLocalTimeZone()
            ser = ArrowStreamPandasSerializer(timezone, jconf.arrowSafeTypeConversion(), False)
            spark_types = [_deduplicate_field_names(f.dataType) for f in schema.fields]
            batch = ser._create_batch(
                [
                    (series, to_arrow_type(t, prefers_large_types=large), t)
                    for (_, series), t in zip(pdf.items(), spark_types)
                ]
            )
        except Exception:
            return None
        table = pa.Table.from_batches([batch]).rename_columns(names)
        return cls(pdf, schema, table, timezone)

    # ------------------------------------------------------------ layout

    def _key_codes(self, col: str, key_type: str, id_bucket_width: int):
        """Per-row partition-value codes for one key column and the
        directory value of each code (the last one is NULL's)."""
        arr = self.table.column(col).combine_chunks()
        valid = ~np.asarray(arr.is_null().to_numpy(zero_copy_only=False), dtype=bool)
        if key_type == "Date":
            # Spark: date_format(cast(col AS timestamp), 'yyyy-MM-dd') in
            # the session time zone — the local calendar day of the value
            if pa.types.is_date32(arr.type):
                days = arr.cast(pa.int32()).fill_null(0).to_numpy().astype(np.int64)
            else:
                if arr.type.tz is not None:
                    arr = pc.local_timestamp(arr.cast(pa.timestamp("us", tz=self.timezone)))
                micros = arr.cast(pa.timestamp("us")).cast(pa.int64()).fill_null(0).to_numpy()
                days = np.floor_divide(micros, _MICROS_PER_DAY)
            uniq, inv = np.unique(days[valid], return_inverse=True)
            labels = [
                datetime.date.fromordinal(int(d) + _EPOCH_ORDINAL).isoformat() for d in uniq
            ]
        else:
            # Spark: floor(cast(col AS long) / w) * w — a double division
            w = id_bucket_width
            vals = arr.cast(pa.int64()).fill_null(0).to_numpy()
            lo = np.floor(vals.astype(np.float64) / np.float64(w)).astype(np.int64) * w
            uniq, inv = np.unique(lo[valid], return_inverse=True)
            labels = [id_bucket_label(int(v), w) for v in uniq]
        codes = np.full(len(valid), len(labels), dtype=np.int64)
        codes[valid] = inv
        return codes, labels + [DEFAULT_PARTITION]

    def partitions(self, columns_keys: Dict[str, str], id_bucket_width: int):
        """The frame's partition dirs as (relative dir, row indices, or None
        for all rows), or None when a key column's type is not one this
        module derives Spark's directory values for."""
        types = {f.name: f.dataType for f in self.schema.fields}
        if not all(
            isinstance(types[col], _DATE_KEY_TYPES if kt == "Date" else _ID_KEY_TYPES)
            for col, kt in columns_keys.items()
        ):
            return None
        if not columns_keys:
            return [("", None)]
        try:
            return self._group_rows(columns_keys, id_bucket_width)
        except (pa.ArrowException, ValueError, OverflowError):
            return None  # e.g. a session time zone Arrow does not know

    def _group_rows(self, columns_keys: Dict[str, str], id_bucket_width: int):
        # one mixed-radix code per row over every key's value code, so a
        # single stable sort groups the rows (each group keeps input order)
        combined = np.zeros(self.table.num_rows, dtype=np.int64)
        radix = 1
        segments = []  # per key: the dir segment of each value code
        for col, key_type in columns_keys.items():
            codes, labels = self._key_codes(col, key_type, id_bucket_width)
            radix *= len(labels)
            if radix >= 2**62:
                raise OverflowError("too many partition-value combinations for one code")
            name = _escape_path_name(f"__p_{col}")
            segments.append([f"{name}={_escape_path_name(v)}" for v in labels])
            combined = combined * len(labels) + codes
        order = np.argsort(combined, kind="stable")
        ordered = combined[order]
        starts = np.flatnonzero(np.r_[True, ordered[1:] != ordered[:-1]])
        ends = np.r_[starts[1:], len(order)]
        out = []
        for start, end in zip(starts, ends):
            code, parts = int(ordered[start]), []
            for seg in reversed(segments):
                code, c = divmod(code, len(seg))
                parts.append(seg[c])
            out.append((os.path.join(*reversed(parts)), order[start:end]))
        return out

    def write(self, write_dir: str, partitions) -> Dict[str, "pq.FileMetaData"]:
        """Write the frame's files under ``write_dir`` in the layout
        :meth:`partitions` gave; returns each file's path relative to
        ``write_dir`` mapped to its parquet footer."""
        job = uuid.uuid4()
        written = {}
        n = 0
        for rel, rows in partitions:
            part = self.table if rows is None else self.table.take(rows)
            target = os.path.join(write_dir, rel)
            os.makedirs(target, exist_ok=True)
            for start in range(0, part.num_rows, MAX_ROWS_PER_FILE):
                name = f"part-{n:05d}-{job}.c000.snappy.parquet"
                tmp = os.path.join(target, f".{name}.inprogress")
                footer: list = []
                pq.write_table(
                    part.slice(start, MAX_ROWS_PER_FILE),
                    tmp,
                    compression="snappy",
                    coerce_timestamps="us",
                    metadata_collector=footer,
                )
                os.rename(tmp, os.path.join(target, name))
                written[os.path.join(rel, name)] = footer[0]
                n += 1
        return written


# ------------------------------------------------------------------ read


def _as_nullable(dt: T.DataType) -> T.DataType:
    """Spark reads every file-source column as nullable, nested ones too."""
    if isinstance(dt, T.StructType):
        return T.StructType(
            [T.StructField(f.name, _as_nullable(f.dataType), True, f.metadata) for f in dt.fields]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, T.MapType):
        return T.MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def read_files(spark: SparkSession, files: List[str], schema: T.StructType) -> Optional[pd.DataFrame]:
    """``files`` read under ``schema`` as ``spark.read.schema(schema)
    .parquet(*files).toPandas()`` would return them; None where the Arrow
    read cannot stand in for Spark's."""
    from pyspark.sql.pandas.types import _create_converter_to_pandas, to_arrow_schema

    if not _arrow_enabled(spark):
        return None
    jconf = spark._jconf
    schema = _as_nullable(schema)
    names = schema.names
    try:
        arrow_schema = to_arrow_schema(schema, prefers_large_types=jconf.arrowUseLargeVarTypes())
        fmt = pads.ParquetFileFormat(
            read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        table = pads.dataset(files, schema=arrow_schema, format=fmt).to_table()
    except (pa.ArrowException, TypeError, ValueError, OSError):
        return None  # the Spark read decides: it reads the files or says why not
    if table.num_rows == 0:
        pdf = pd.DataFrame(columns=names)
    else:
        pdf = table.rename_columns([f"col_{i}" for i in range(table.num_columns)]).to_pandas(
            date_as_object=True, coerce_temporal_nanoseconds=True
        )
        pdf.columns = names
    if not names:
        return pdf
    timezone = jconf.sessionLocalTimeZone()
    struct_in_pandas = jconf.pandasStructHandlingMode()
    error_on_duplicated_field_names = False
    if struct_in_pandas == "legacy":
        error_on_duplicated_field_names = True
        struct_in_pandas = "dict"
    return pd.concat(
        [
            _create_converter_to_pandas(
                field.dataType,
                field.nullable,
                timezone=timezone,
                struct_in_pandas=struct_in_pandas,
                error_on_duplicated_field_names=error_on_duplicated_field_names,
            )(pser)
            for (_, pser), field in zip(pdf.items(), schema.fields)
        ],
        axis="columns",
    )
