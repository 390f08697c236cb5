"""Schema helpers: load/enforce StructType, recursive flattening.

Reference semantics: ``utils/schema_utils.py:21-180``. The flatten walk is a
pure metadata recursion on the driver — zero extra Spark jobs — emitting one
``select`` with dotted paths aliased to flat names, which Catalyst collapses
into the scan's ReadSchema (column pruning still applies).
"""

from __future__ import annotations

import json
from typing import Iterable, List, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StructType


def free_name(base: str, taken: Iterable[str]) -> str:
    """``base``, prefixed with underscores until no name in ``taken``
    equals it case-insensitively."""
    lowered = {c.lower() for c in taken}
    while base.lower() in lowered:
        base = "_" + base
    return base


def schema_from_dict(schema) -> StructType:
    """Build a StructType from a dict, a JSON string, or a DDL string."""
    if isinstance(schema, StructType):
        return schema
    if isinstance(schema, str):
        s = schema.strip()
        if s.startswith("{"):
            return StructType.fromJson(json.loads(s))
        from pyspark.sql.types import _parse_datatype_string

        return _parse_datatype_string(s)
    return StructType.fromJson(schema)


def schema_from_file(path: str) -> StructType:
    """Build a StructType from a JSON file on a local/posix path
    (``file://`` URIs accepted — the reference's ACONs use them).

    URI parsing goes through urllib so ``file:///a%20b/x.json`` decodes
    and a non-empty netloc (``file://host/path`` — a remote-host file URI)
    is rejected instead of silently becoming the relative path
    ``host/path``."""
    if path.startswith("file:"):
        from urllib.parse import urlparse
        from urllib.request import url2pathname

        parsed = urlparse(path)
        if parsed.netloc not in ("", "localhost"):
            raise ValueError(
                f"file URI with a remote netloc is not supported: {path}"
            )
        path = url2pathname(parsed.path)
    with open(path, encoding="utf-8") as fh:
        return StructType.fromJson(json.load(fh))


def schema_from_table(spark, table: str) -> StructType:
    """Inherit the schema of an existing catalog table."""
    return spark.read.table(table).schema


def resolve_schema(
    spark,
    schema: Optional[dict] = None,
    schema_path: Optional[str] = None,
    enforce_schema_from_table: Optional[str] = None,
) -> Optional[StructType]:
    """Resolve the InputSpec schema options in precedence order.

    Reference ``utils/schema_utils.py:76-107``.
    """
    if schema is not None:
        return schema_from_dict(schema)
    if schema_path is not None:
        return schema_from_file(schema_path)
    if enforce_schema_from_table is not None:
        return schema_from_table(spark, enforce_schema_from_table)
    return None


def _flat_paths(
    schema: StructType,
    prefix: str = "",
    level: int = 1,
    max_level: Optional[int] = None,
    shorten_names: bool = False,
    alias: bool = True,
    num_chars: int = 7,
    ignore_cols: Optional[List[str]] = None,
) -> List:
    """Recursive driver-side walk producing aliased Column objects."""
    ignore_cols = ignore_cols or []
    cols = []
    for f_ in schema.fields:
        path = f"{prefix}.{f_.name}" if prefix else f_.name
        if path in ignore_cols or f_.name in ignore_cols:
            cols.append(F.col(path))
            continue
        # reference recurses while level <= max_level (schema_utils.py:160
        # there): max_level=N expands structs encountered at depths 1..N
        recurse = isinstance(f_.dataType, StructType) and (
            max_level is None or level <= max_level
        )
        if recurse:
            cols.extend(
                _flat_paths(
                    f_.dataType,
                    path,
                    level + 1,
                    max_level,
                    shorten_names,
                    alias,
                    num_chars,
                    ignore_cols,
                )
            )
        else:
            if alias and prefix:
                flat = path.replace(".", "_")
                if shorten_names:
                    parts = flat.split("_")
                    flat = "_".join(p[:num_chars] for p in parts[:-1]) + "_" + parts[-1]
                cols.append(F.col(path).alias(flat))
            else:
                cols.append(F.col(path))
    return cols


def flatten_df(
    df: DataFrame,
    max_level: Optional[int] = None,
    shorten_names: bool = False,
    alias: bool = True,
    num_chars: int = 7,
    ignore_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Flatten nested structs into top-level columns (one select, no shuffle)."""
    return df.select(
        *_flat_paths(
            df.schema,
            max_level=max_level,
            shorten_names=shorten_names,
            alias=alias,
            num_chars=num_chars,
            ignore_cols=ignore_cols,
        )
    )


def array_columns(df: DataFrame) -> List[str]:
    """Names of top-level array columns."""
    return [f_.name for f_ in df.schema.fields if isinstance(f_.dataType, ArrayType)]


def map_columns(df: DataFrame) -> List[str]:
    """Names of top-level map columns."""
    from pyspark.sql.types import MapType

    return [f_.name for f_ in df.schema.fields if isinstance(f_.dataType, MapType)]
