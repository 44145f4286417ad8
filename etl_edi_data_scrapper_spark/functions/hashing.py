"""Engine-portable hash primitives.

Everything here is expressible with identical semantics in any SQL engine
(md5 + substring + instr arithmetic) so every operator built on top stays
oracle-checkable — no dialect-specific conv/unhex/hash functions. The
SQL-text quoting helpers (``sql_str``, ``sql_ident``) live here too: every
builder that emits parsed SQL instead of Column-DSL calls shares them.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

HEX = "0123456789abcdef"


def hex_val(c: Column) -> Column:
    """One hex char → 0..15 via instr arithmetic."""
    return F.instr(F.lit(HEX), c) - 1


def hex_word(h: Column, start: int) -> Column:
    """Parse 8 hex chars of an md5 hex string (1-based `start`) into a
    bigint (0..2^32-1)."""
    v: Column = F.lit(0).cast("long")
    for k in range(8):
        v = v * 16 + hex_val(F.substring(h, start + k, 1))
    return v


def sql_str(s: str) -> str:
    """A string literal as SQL text. Single quotes are doubled per the SQL
    string-literal rule; backslashes are escaped because Spark's parser
    treats them as escape introducers even inside single quotes."""
    return "'" + str(s).replace("\\", "\\\\").replace("'", "''") + "'"


def sql_ident(name: str) -> str:
    """A column name as a backtick-quoted SQL identifier (backticks
    doubled): a header or config name stays one name inside parsed SQL
    text, whatever dots, quotes or operators it contains."""
    return "`" + str(name).replace("`", "``") + "`"


def str_array_sql(values) -> str:
    """A string-array literal as SQL text (one parsed expression instead
    of one py4j round trip per element — see hex_val_sql)."""
    return "array(" + ",".join(sql_str(v) for v in values) + ")"


def hex_val_sql(c_sql: str) -> str:
    """`hex_val` as SQL text (r14: building these per-nibble through the
    Column DSL costs one py4j round trip per node — a parsed string is
    ~100× cheaper and yields the identical tree)."""
    return f"(instr('{HEX}', {c_sql}) - 1)"


def hex_word_sql(h_sql: str, start: int) -> str:
    """`hex_word` as SQL text — the same CAST(0 AS BIGINT) fold, so the
    parsed tree (and every value) matches the DSL form exactly."""
    v = "CAST(0 AS BIGINT)"
    for k in range(8):
        v = f"({v} * 16 + {hex_val_sql(f'substring({h_sql}, {start + k}, 1)')})"
    return v
