"""Pure-Python replica of the reference's row-at-a-time job semantics.

The reference (`DataSetCollection`, `Mapper`) reads a feed, cleans each
mapped value by target name, and upserts rows one at a time into a map
keyed by ``upc``: ``min``/``max``/``addArray`` combine colliding rows and
every other column is last-write-wins; rows with a null or empty key are
dropped. Multi-source jobs re-key the base leg (last row per key wins),
then copy each later leg's listed fields onto base rows whose key matches.

This module shares no code with the engine: it parses the generated files
with the standard library and applies the rules in arrival order (file row
order). Its output has the engine's publish shape: one dict per key, as
``sinks.rows_as_json`` renders it (null fields left out).

Reader conventions it mirrors: CSV and XLSX cells are strings and an empty
cell is null; Morris XML types ``qty`` as an integer and ``price`` as a
double; JSONL keeps the JSON value.
"""

from __future__ import annotations

import csv
import json
import re
import zipfile
import xml.etree.ElementTree as ET

_KEEP = re.compile(r"[^a-zA-Zа-яА-Я0-9.]")
_NON_DIGIT = re.compile(r"[^0-9]")
_NON_FLOAT = re.compile(r"[^0-9.]")
_LEADING_FLOAT = re.compile(r"[0-9]*\.?[0-9]*")
_ASIN = re.compile(r"^[A-Z0-9]{10}$")
_LONG_MAX = 2**63 - 1


def clean_upc(v):
    return None if v is None else _KEEP.sub("", str(v))[:13]


def clean_integer(v):
    if v is None:
        return 0
    d = _NON_DIGIT.sub("", str(v))
    return int(d) if d and int(d) <= _LONG_MAX else 0


def clean_float(v):
    if v is None:
        return 0.0
    s = _NON_FLOAT.sub("", _KEEP.sub("", str(v).replace(",", ".")))
    try:
        return float(_LEADING_FLOAT.match(s).group(0))
    except ValueError:
        return 0.0


def asin_validate(v):
    if v is None:
        return None
    t = str(v).strip(" ").upper()
    return t if _ASIN.search(t) else None


CLEAN = {"upc": clean_upc, "qty": clean_integer, "price": clean_float, "asin": asin_validate}


# --- readers ----------------------------------------------------------------

def read_csv(path: str) -> list[dict]:
    with open(path, newline="", encoding="utf-8") as fh:
        it = csv.reader(fh)
        header = next(it)
        return [{h: (v if v != "" else None) for h, v in zip(header, r)} for r in it if r]


_NS = "{http://schemas.openxmlformats.org/spreadsheetml/2006/main}"


def _col_index(ref: str) -> int:
    n = 0
    for ch in ref:
        if not ch.isalpha():
            break
        n = n * 26 + ord(ch) - 64
    return n - 1


def read_xlsx(path: str) -> list[dict]:
    with zipfile.ZipFile(path) as z:
        shared = ["".join(t.text or "" for t in si.iter(f"{_NS}t"))
                  for si in ET.fromstring(z.read("xl/sharedStrings.xml")).iter(f"{_NS}si")]
        sheet = ET.fromstring(z.read("xl/worksheets/sheet1.xml"))
    table = []
    for row in sheet.iter(f"{_NS}row"):
        cells = {_col_index(c.get("r")): shared[int(c.find(f"{_NS}v").text)]
                 for c in row.iter(f"{_NS}c")}
        if cells:
            table.append(cells)
    header = [table[0][i].strip() for i in sorted(table[0])]
    return [{h: r.get(i) for i, h in enumerate(header)} for r in table[1:]]


def read_morris_xml(path: str) -> list[dict]:
    out = []
    for el in ET.parse(path).getroot().iter("available"):
        gtin, qty, price = el.findtext("gtin"), el.findtext("qty"), el.findtext("detail/price")
        out.append({"gtin": gtin,
                    "qty": int(qty) if qty else None,
                    "price": float(price) if price else None})
    return out


def read_jsonl(path: str) -> list[dict]:
    with open(path, encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


READERS = {2: read_csv, 7: read_csv, 4: read_xlsx, 6: read_xlsx,
           5: read_morris_xml, 8: read_jsonl}


# --- the job ----------------------------------------------------------------

def _rule_split(column_map_rules: dict) -> tuple[dict, dict]:
    col_map, rules = {}, {}
    for target, r in column_map_rules.items():
        if isinstance(r, list):
            col_map[target], rules[target] = r
        else:
            col_map[target] = r
    return col_map, rules


def _last_per_key(rows: list[dict], key: str) -> dict:
    """Re-key: the last row per non-empty key wins (insertion order of the
    first occurrence is irrelevant to the engine's output)."""
    out = {}
    for r in rows:
        k = r.get(key)
        if k is not None and k != "":
            out[k] = r
    return out


def _source_rows(msg: dict) -> list[dict]:
    if msg["type_id"] is not None:
        return READERS[msg["type_id"]](msg["source"])
    base_leg, *legs = msg["source"]
    base = _last_per_key(READERS[base_leg["type_id"]](base_leg["filename"]), base_leg["key"])
    base = {k: dict(r) for k, r in base.items()}
    for leg in legs:
        last = _last_per_key(READERS[leg["type_id"]](leg["filename"]), leg["key"])
        for k, r in base.items():
            hit = last.get(k)
            for f in leg["fields"]:
                if hit is not None:
                    r[f] = hit.get(f)
                else:
                    r.setdefault(f, None)
    # base rows keep the arrival order of their last occurrence
    return list(base.values())


def run_job(message: str) -> tuple[dict[str, dict], int]:
    """Expected output of one job message, keyed by ``upc``, and the number
    of rows that reached the merge (non-empty key)."""
    msg = json.loads(message)
    col_map, rules = _rule_split(msg["column_map_rules"])
    stamps = {"supplier_id": int(msg["supplier_id"]), "version": int(msg["version"])}
    cleaners = {t: _memo(CLEAN.get(t)) for t in col_map}
    out: dict[str, dict] = {}
    keyed = 0
    for row in _source_rows(msg):
        mapped = {t: cleaners[t](row.get(s)) for t, s in col_map.items()}
        key = mapped.pop("upc")
        if key is None or key == "":
            continue
        keyed += 1
        cur = out.get(key)
        if cur is None:
            out[key] = {c: [v] if rules.get(c) == "addArray" else v for c, v in mapped.items()}
            continue
        for c, v in mapped.items():
            rule = rules.get(c)
            if rule == "addArray":
                cur[c].append(v)
            elif rule in ("min", "max"):
                if cur[c] is None or (v is not None and (v < cur[c] if rule == "min" else v > cur[c])):
                    cur[c] = v
            else:
                cur[c] = v
    return {k: {"upc": k, **{c: v for c, v in r.items() if v is not None}, **stamps}
            for k, r in out.items()}, keyed


def _memo(fn):
    """Feeds repeat raw values; clean each distinct one once."""
    if fn is None:
        return lambda v: v
    cache = {}

    def clean(v):
        try:
            return cache[v]
        except KeyError:
            cache[v] = r = fn(v)
            return r
    return clean
