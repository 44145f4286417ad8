"""PHP-parity scalar cleaning expressions (the engine's scalar function lib).

Reference semantics: `src/Service/Mapper/Mapper.php:19-50` of the reference
repo — `asinValidate` (:19-27), `cleanString` (:29-32), `cleanUpc` (:34-37),
`cleanInteger` (:39-42), `cleanFloat` (:44-50).

Each cleaner maps SQL expression text to SQL expression text
(``clean_upc("`UPC`")`` → ``substring(regexp_replace(CAST(`UPC` AS STRING),
…), 1, 13)``), so the mapper parses a whole job's projection once. Built
through the Column DSL the same tree costs one py4j round trip per node —
about 50 per cleaned column; the parsed text yields the identical Catalyst
tree. They stay pure JVM expressions (whole-stage-codegen'd — NO Python
UDFs), so they vectorize and survive 100 TB scans.

ANSI-proof: malformed casts use ``TRY_CAST`` so semantics match PHP
(intval/floatval never throw) regardless of ``spark.sql.ansi.enabled``.

PHP quirks reproduced deliberately:
  * ``cleanString`` regex ``/[^a-zа-я\\d.]/ui`` — case-insensitive Latin +
    Cyrillic + digits + dot survive; everything else is stripped.
  * ``floatval`` parses the *leading* float: ``"1.2.3" → 1.2``, ``"" → 0.0``.
  * ``intval`` of empty string → 0.
  * asin failing ``^[A-Z0-9]{10}$`` after upper+trim → NULL (not dropped).
"""

from __future__ import annotations

from etl_edi_data_scrapper_spark.functions.hashing import sql_str

# PHP /[^a-zа-я\d.]/ui — explicit both-case classes so the Java regex needs no
# flags and an ANSI-SQL oracle can use the identical class.
_CLEAN_KEEP_RE = sql_str(r"[^a-zA-Zа-яА-Я0-9.]")


def _s(c: str) -> str:
    return f"CAST({c} AS STRING)"


def clean_string(c: str) -> str:
    """Strip every char except Latin/Cyrillic letters, digits and ``.``."""
    return f"regexp_replace({_s(c)}, {_CLEAN_KEEP_RE}, '')"


def clean_upc(c: str) -> str:
    """``cleanString`` then truncate to 13 chars (string-typed key)."""
    return f"substring({clean_string(c)}, 1, 13)"


def clean_integer(c: str) -> str:
    """Strip non-digits → long; empty/overflow → 0 (PHP intval('') == 0)."""
    digits = f"regexp_replace({_s(c)}, '[^0-9]', '')"
    return f"coalesce(TRY_CAST({digits} AS BIGINT), CAST(0 AS BIGINT))"


def clean_float(c: str) -> str:
    """``,``→``.``, strip to ``[0-9.]``, parse leading float; empty → 0.0.

    One regex for the reference's chain (``,``→``.``, ``cleanString``, strip
    to ``[0-9.]``, ``floatval``): ``cleanString`` keeps a superset of
    ``[0-9.]``, so the strip alone gives the same string; on digits and dots
    ``floatval``'s leading float is all before the second dot
    (``substring_index``): ``"1.2.3" → 1.2``, ``"..5" → "." → 0.0``.
    """
    digits = f"regexp_replace(translate({_s(c)}, ',', '.'), '[^0-9.]', '')"
    return f"coalesce(TRY_CAST(substring_index({digits}, '.', 2) AS DOUBLE), 0.0D)"


def asin_validate(c: str) -> str:
    """Upper+trim; must match ``^[A-Z0-9]{10}$`` else NULL."""
    t = f"upper(trim({_s(c)}))"
    return f"CASE WHEN {t} RLIKE '^[A-Z0-9]{{10}}$' THEN {t} ELSE CAST(NULL AS STRING) END"


# Name-dispatched cleaning, mirroring the reference's `switch ($targetField)`
# (Mapper.php:95-111): cleaning is chosen by TARGET column name, not by type.
NAME_DISPATCH = {
    "asin": asin_validate,
    "upc": clean_upc,
    "qty": clean_integer,
    "price": clean_float,
}


def clean_for_target(target: str, c: str) -> str:
    """Apply the reference's per-target-name cleaning; default passthrough."""
    fn = NAME_DISPATCH.get(target)
    return c if fn is None else fn(c)
