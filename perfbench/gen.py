"""Seeded input generator: supplier feeds plus the job messages that name
them, and the table the kernel queries read.

One ``(workload, seed)`` pair always yields byte-identical files and
messages: every random draw comes from one ``numpy`` generator seeded with
the pair, zip members carry a fixed timestamp, and messages name files by
paths relative to the generation directory (the benchmark runs the engine
from inside it).

Feed values are dirty the way supplier feeds are (stray characters in UPCs,
``"1,200"`` quantities, ``"12,99"`` prices, garbage ASINs, Cyrillic text,
quoted commas, blank lines), so ``functions.clean`` does real work. Rows keep
the header's column count: Spark's DROPMALFORMED handling of short rows
depends on CSV column pruning, which would make the row set depend on the
rules rather than on the file.
"""

from __future__ import annotations

import csv
import json
import os
import zipfile
from xml.sax.saxutils import escape

import numpy as np

# Workload parameters. They are recorded in the manifest next to the inputs.
PARAMS = {
    "edi_small_feeds": {
        "distinct_key_ratio": 0.6,
        "zipf_s": 0.0,
        # the stream is one block of ten jobs, repeated: format, rows and
        # rule set per position (rules: qty min, price max, status
        # addArray, or none). The seed varies the data, so every seed loads
        # the same mix.
        "block": [
            ["csv", 2750, "min,max,addArray"], ["xlsx", 1250, "min"],
            ["csv", 4250, "max,addArray"], ["xml", 500, "min,max"],
            ["csv", 3500, ""], ["csv", 2000, "addArray"],
            ["jsonl", 5000, "min,addArray"], ["csv", 1000, "max"],
            ["xlsx", 3000, "min,max,addArray"], ["csv", 4500, "min,max"],
        ],
        # blocks the warm-up runs, the timed loop at least runs, and a
        # traced loop at least runs
        "warm_blocks": 2,
        "min_blocks": 5,
        "trace_blocks": 2,
    },
    "large_jobs": {
        # the stream is one block of three jobs, repeated: the bulk feed,
        # the multi-source job, one pass over the kernel queries
        "block": ["bulk", "multi", "kernels"],
        "warm_blocks": 2,
        "min_blocks": 2,
        "trace_blocks": 1,
        "bulk": {
            "rows": 100_000,
            "distinct_key_ratio": 0.05,
            "zipf_s": 1.1,
            # every other column is last-write-wins
            "rules": {"qty": "min", "price": "max", "status": "addArray"},
        },
        "multi": {
            "base_rows": 60_000,
            "base_distinct_key_ratio": 0.8,
            "dim_rows": 12_000,
            "xlsx_rows": 2_000,
            "leg_key_hit_ratio": 0.8,
            "rules": {"qty": "min", "price": "max"},
        },
        "kernels": {
            # a pass runs these suite queries, in this order, on `embeddings`
            "queries": ["kmeans", "ann_topk", "embed_neardup"],
            "embeddings": 400,
            "dim": 64,
            "labels": 10,
            "spread": 0.6,
            "near_dup_ratio": 0.1,
        },
    },
}

FEED_COLUMNS = ["UPC", "ASIN", "Quantity", "Wholesale", "Sublocation", "Product Name"]
_UPC_HEADERS = ["UPC", "upc", "Barcode"]
_WORDS = ["Widget", "Gadget", "Bolt", "Nut", "Панель", "Кабель", "Lamp", "Pump"]
_SUBLOCS = ["A-12", "B-3", "Склад-1", "dock 4", "R&D", "<shelf>", "C.7"]


def _seed_for(workload: str, seed: int) -> int:
    return (int(seed) * 1_000_003 + sum(map(ord, workload))) % (2**32)


class _Pools:
    """Dirty raw-value pools; rows index into them, so a 1.5M-row feed
    renders in about a second."""

    def __init__(self, rng: np.random.Generator, n_keys: int, key_base: int):
        self.rng = rng
        keys = key_base + rng.permutation(n_keys).astype(np.int64) * 7919
        self.keys = [f"{int(k) % 10**13:013d}" for k in keys]
        self._upc: list[list[str]] | None = None
        ints = rng.integers(0, 5000, 400).tolist()
        self.qty = [
            [f"{v}", f" {v} ", f"{v:,}", f"{v} pcs", "", f"-{v}", f"{v}.5"][i % 7]
            for i, v in enumerate(ints)
        ]
        cents = rng.integers(1, 2_000_000, 600).tolist()
        self.price = [
            [f"{c / 100:.2f}", f"{c // 100},{c % 100:02d}", f"$ {c / 100:.2f}",
             f"{c // 100}.{c % 100:02d}.7", "", "n/a", f"{c // 100:,}.{c % 100:02d}"][i % 7]
            for i, c in enumerate(cents)
        ]
        alnum = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"))
        asins = ["".join(alnum[rng.integers(0, 36, 10)]) for _ in range(500)]
        self.asin = [
            [a, a.lower(), f" {a} ", a[:9], "N/A", "", a + "X"][i % 7]
            for i, a in enumerate(asins)
        ]
        self.subloc = _SUBLOCS + [""]
        self.name = [
            f"{_WORDS[i % len(_WORDS)]} {i}" + [", large", " XL", "", " №5"][i % 4]
            for i in range(300)
        ]

    def upc_variants(self) -> list[list[str]]:
        """Eight spellings per key. Most clean back to the key; "UPC:" keeps
        its letters, so those rows merge under a key of their own, and
        "77" overflows 13 characters and is cut off again."""
        if self._upc is None:
            self._upc = [[k, k, f"{k[:1]}-{k[1:6]}-{k[6:]}", f"# {k} ", f"UPC:{k}",
                          k + "77", k, ""] for k in self.keys]
        return self._upc


def _draw_keys(rng: np.random.Generator, n_rows: int, n_keys: int, zipf_s: float) -> np.ndarray:
    if zipf_s <= 0:
        return rng.integers(0, n_keys, n_rows)
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** zipf_s
    return rng.choice(n_keys, size=n_rows, p=w / w.sum())


def _feed_rows(rng: np.random.Generator, pools: _Pools, n_rows: int,
               n_keys: int, zipf_s: float) -> list[list[str]]:
    """Rows of FEED_COLUMNS; '' marks an empty cell."""
    kidx = _draw_keys(rng, n_rows, n_keys, zipf_s).tolist()
    var = rng.integers(0, 8, n_rows).tolist()
    cols = [rng.integers(0, len(p), n_rows).tolist()
            for p in (pools.asin, pools.qty, pools.price, pools.subloc, pools.name)]
    upc, asin, qty, price, sub, name = (
        pools.upc_variants(), pools.asin, pools.qty, pools.price, pools.subloc, pools.name)
    return [
        [upc[k][v], asin[a], qty[q], price[p], sub[s], name[n]]
        for k, v, a, q, p, s, n in zip(kidx, var, *cols)
    ]


def _write_csv(path: str, header: list[str], chunks, rng: np.random.Generator,
               blank_every: int = 0) -> None:
    """``chunks``: iterable of row lists, written in order."""
    with open(path, "w", newline="", encoding="utf-8") as fh:
        w = csv.writer(fh, lineterminator="\n")
        w.writerow(header)
        for rows in chunks:
            if not blank_every:
                w.writerows(rows)
                continue
            blanks = set(rng.integers(0, len(rows), max(1, len(rows) // blank_every)).tolist())
            for i, r in enumerate(rows):
                if i in blanks:
                    fh.write("\n")  # blank line: skipped by every reader
                w.writerow(r)


def _zip_member(z: zipfile.ZipFile, name: str, data: str) -> None:
    info = zipfile.ZipInfo(name, date_time=(1980, 1, 1, 0, 0, 0))
    info.compress_type = zipfile.ZIP_DEFLATED
    z.writestr(info, data.encode("utf-8"))


def _col_ref(c: int) -> str:
    s = ""
    c += 1
    while c:
        c, r = divmod(c - 1, 26)
        s = chr(65 + r) + s
    return s


def write_xlsx(path: str, header: list[str], rows: list[list[str]]) -> None:
    """Minimal XLSX (workbook, rels, shared strings, one sheet). Empty cells
    are left out, as spreadsheet tools do; the reader pads them with null."""
    ns = 'xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"'
    rid = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    sst: dict[str, int] = {}
    out = []
    for ri, row in enumerate([header, *rows], start=1):
        cells = []
        for ci, v in enumerate(row):
            if v == "":
                continue
            idx = sst.setdefault(v, len(sst))
            cells.append(f'<c r="{_col_ref(ci)}{ri}" t="s"><v>{idx}</v></c>')
        out.append(f'<row r="{ri}">{"".join(cells)}</row>')
    strings = "".join(f'<si><t xml:space="preserve">{escape(s)}</t></si>' for s in sst)
    with zipfile.ZipFile(path, "w") as z:
        _zip_member(z, "xl/workbook.xml",
                    f'<?xml version="1.0"?><workbook {ns} xmlns:r="{rid}"><sheets>'
                    f'<sheet name="Feed" sheetId="1" r:id="rId1"/></sheets></workbook>')
        _zip_member(z, "xl/_rels/workbook.xml.rels",
                    '<?xml version="1.0"?><Relationships xmlns="http://schemas.'
                    'openxmlformats.org/package/2006/relationships"><Relationship '
                    f'Id="rId1" Type="{rid}/worksheet" Target="worksheets/sheet1.xml"/>'
                    "</Relationships>")
        _zip_member(z, "xl/sharedStrings.xml",
                    f'<?xml version="1.0"?><sst {ns}>{strings}</sst>')
        _zip_member(z, "xl/worksheets/sheet1.xml",
                    f'<?xml version="1.0"?><worksheet {ns}><sheetData>'
                    f'{"".join(out)}</sheetData></worksheet>')


def write_morris_xml(path: str, rows: list[list[str]]) -> None:
    """Morris feed: <available><gtin/><qty/><detail><price/></detail>.
    An empty gtin is written as a missing element (null key, dropped)."""
    parts = ["<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n<inventory>\n"]
    for gtin, qty, price in rows:
        g = f"<gtin>{escape(gtin)}</gtin>" if gtin else ""
        parts.append(f"  <available>{g}<qty>{qty}</qty>"
                     f"<detail><price>{price}</price></detail></available>\n")
    parts.append("</inventory>\n")
    with open(path, "w", encoding="utf-8") as fh:
        fh.write("".join(parts))


def write_jsonl(path: str, rows: list[list[str]]) -> None:
    keys = ["upc", "asin", "qty", "price", "sublocation", "name"]
    with open(path, "w", encoding="utf-8") as fh:
        for r in rows:
            rec = {k: (v if v != "" else None) for k, v in zip(keys, r)}
            fh.write(json.dumps(rec, ensure_ascii=False) + "\n")


def _with_rules(col_map: dict, rules: dict) -> dict:
    """``target -> source`` plus ``target -> [source, rule]`` where a rule is set."""
    return {t: [src, rules[t]] if t in rules else src for t, src in col_map.items()}


def _message(supplier_id: int, type_id: int | None, source, rules: dict, name: str) -> str:
    return json.dumps({"supplier_id": supplier_id, "name": name, "type_id": type_id,
                       "source": source, "range": None,
                       "column_map_rules": rules, "version": 1})


_RULE_TARGETS = {"min": "qty", "max": "price", "addArray": "status"}


def _small_feed_job(rng, pools: _Pools, i: int, p: dict) -> dict:
    fmt, n, rule_set = p["block"][i % len(p["block"])]
    n_keys = max(1, int(n * p["distinct_key_ratio"]))
    rows = _feed_rows(rng, pools, n, n_keys, p["zipf_s"])
    rules = {_RULE_TARGETS[r]: r for r in rule_set.split(",") if r}
    if fmt == "xml":
        rows = [[r[0], str(int(rng.integers(0, 900))), f"{int(rng.integers(1, 99999)) / 100:.2f}"]
                for r in rows]
        path, type_id = f"feed_{i:03d}.xml", 5
        write_morris_xml(path, rows)
        col_map = {"upc": "gtin", "qty": "qty", "price": "price"}
    elif fmt == "jsonl":
        path, type_id = f"feed_{i:03d}.jsonl", 8
        write_jsonl(path, rows)
        col_map = {"upc": "upc", "asin": "asin", "qty": "qty", "price": "price",
                   "status": "sublocation"}
    else:
        header = [_UPC_HEADERS[i % len(_UPC_HEADERS)], *FEED_COLUMNS[1:]]
        if fmt == "csv":
            path, type_id = f"feed_{i:03d}.csv", 2 if i % 2 else 7
            _write_csv(path, header, [rows], rng, blank_every=400)
        else:
            path, type_id = f"feed_{i:03d}.xlsx", 4 if i % 2 else 6
            write_xlsx(path, header, rows)
        col_map = {"upc": header[0], "asin": "ASIN", "qty": "Quantity", "price": "Wholesale",
                   "status": "Sublocation", "product_name": "Product Name"}
    message = _message(100 + i, type_id, path, _with_rules(col_map, rules), f"{fmt}-{i}")
    return {"message": message, "format": fmt, "rows": n}


def _gen_small_feeds(rng, p: dict) -> list[dict]:
    pools = _Pools(rng, 6000, 4_200_000_000)
    return [_small_feed_job(rng, pools, i, p) for i in range(len(p["block"]))]


def _gen_bulk(rng, p: dict) -> dict:
    n = p["rows"]
    pools = _Pools(rng, int(n * p["distinct_key_ratio"]), 7_300_000_000)
    step = 250_000
    chunks = (_feed_rows(rng, pools, min(step, n - i), len(pools.keys), p["zipf_s"])
              for i in range(0, n, step))
    _write_csv("bulk.csv", FEED_COLUMNS, chunks, rng, blank_every=5000)
    rules = _with_rules({"upc": "UPC", "asin": "ASIN", "qty": "Quantity", "price": "Wholesale",
                         "status": "Sublocation", "product_name": "Product Name"}, p["rules"])
    return {"message": _message(501, 2, "bulk.csv", rules, "bulk"), "format": "csv", "rows": n}


def _gen_multi(rng, p: dict) -> dict:
    n_keys = int(p["base_rows"] * p["base_distinct_key_ratio"])
    pools = _Pools(rng, n_keys, 9_100_000_000)
    keys = pools.keys
    base_k = rng.integers(0, n_keys, p["base_rows"]).tolist()
    base = [[keys[k], pools.asin[a], pools.qty[q], pools.price[pr], pools.name[nm]]
            for k, a, q, pr, nm in zip(
                base_k, *(rng.integers(0, len(x), p["base_rows"]).tolist()
                          for x in (pools.asin, pools.qty, pools.price, pools.name)))]
    _write_csv("base.csv", ["sku", "ASIN", "Quantity", "Wholesale", "Title"], [base], rng)

    def leg_keys(n: int) -> list[str]:
        hit = rng.random(n) < p["leg_key_hit_ratio"]
        k = rng.integers(0, n_keys, n).tolist()
        return [keys[x] if h else f"{9_999_000_000_000 + x:013d}" for x, h in zip(k, hit)]

    brands = ["Acme", "Globex", "Initech", "Umbrella", "Стрела", ""]
    dim = [[k, brands[b], f"cat-{c}"] for k, b, c in zip(
        leg_keys(p["dim_rows"]), rng.integers(0, len(brands), p["dim_rows"]).tolist(),
        rng.integers(0, 40, p["dim_rows"]).tolist())]
    _write_csv("dim.csv", ["sku_ref", "Brand", "Category"], [dim], rng)
    promos = ["", "BOGO", "10% off", "clearance"]
    xl = [[k, pools.price[pr], promos[pm]] for k, pr, pm in zip(
        leg_keys(p["xlsx_rows"]), rng.integers(0, len(pools.price), p["xlsx_rows"]).tolist(),
        rng.integers(0, len(promos), p["xlsx_rows"]).tolist())]
    write_xlsx("promo.xlsx", ["item", "Wholesale", "Promo"], xl)
    source = [
        {"type_id": 7, "filename": "base.csv", "key": "sku",
         "fields": ["sku", "ASIN", "Quantity", "Wholesale", "Title"]},
        {"type_id": 2, "filename": "dim.csv", "key": "sku_ref", "fields": ["Brand", "Category"]},
        {"type_id": 6, "filename": "promo.xlsx", "key": "item", "fields": ["Wholesale", "Promo"]},
    ]
    rules = _with_rules({"upc": "sku", "asin": "ASIN", "qty": "Quantity", "price": "Wholesale",
                         "product_name": "Title", "brand": "Brand", "category": "Category",
                         "promo": "Promo"}, p["rules"])
    return {"message": _message(777, None, source, rules, "multi"), "format": "multi",
            "rows": p["base_rows"] + p["dim_rows"] + p["xlsx_rows"]}


def _gen_kernels(rng, p: dict) -> dict:
    """An ``embeddings`` parquet table in the schema of the suite's test
    data (unit vectors around ``labels`` centres), read by the kernel
    queries from this directory. Some vectors are jittered copies of an
    earlier one, so the near-duplicate kernels find pairs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    m, dim, k = p["embeddings"], p["dim"], p["labels"]
    centers = rng.normal(size=(k, dim))
    labels = rng.integers(0, k, m)
    vecs = centers[labels] + p["spread"] * rng.normal(size=(m, dim))
    dups = np.flatnonzero(rng.random(m) < p["near_dup_ratio"])
    dups = dups[dups > 0]
    src = (rng.random(len(dups)) * dups).astype(np.int64)
    vecs[dups] = vecs[src] + 0.01 * rng.normal(size=(len(dups), dim))
    labels[dups] = labels[src]
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(range(m), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), "embeddings.parquet")
    return {"queries": p["queries"], "format": "pass", "rows": m * len(p["queries"])}


def _gen_large(rng, p: dict) -> list[dict]:
    jobs = {"bulk": _gen_bulk(rng, p["bulk"]), "multi": _gen_multi(rng, p["multi"]),
            "kernels": _gen_kernels(rng, p["kernels"])}
    return [jobs[kind] for kind in p["block"]]


_GENERATORS = {"edi_small_feeds": _gen_small_feeds, "large_jobs": _gen_large}


def generate(workload: str, seed: int, out_dir: str, params: dict | None = None) -> dict:
    """Write the workload's inputs into ``out_dir``; return the manifest
    (parameters plus one entry per job of the stream: message or query,
    format, generated rows). ``params`` overrides entries of
    ``PARAMS[workload]`` (tests use tiny feeds)."""
    p = {**PARAMS[workload], **(params or {})}
    os.makedirs(out_dir, exist_ok=True)
    cwd = os.getcwd()
    os.chdir(out_dir)
    try:
        jobs = _GENERATORS[workload](np.random.default_rng(_seed_for(workload, seed)), p)
    finally:
        os.chdir(cwd)
    manifest = {"workload": workload, "seed": int(seed), "params": p, "jobs": jobs}
    with open(os.path.join(out_dir, "manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, ensure_ascii=False)
    return manifest


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="Write one workload's seeded inputs.")
    ap.add_argument("--workload", required=True, choices=sorted(PARAMS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    generate(a.workload, a.seed, a.out)
