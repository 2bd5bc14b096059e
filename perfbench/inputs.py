"""Seeded benchmark inputs, written to parquet with pyarrow.

The program under test never sees the seed: it reads only the parquet
files written here.  Every planted defect is drawn from
``numpy.random.default_rng(seed)``, so the same seed gives byte-identical
inputs, and the generator returns the planted counts that the
``json_docs`` oracle compares against.
"""

from __future__ import annotations

import itertools
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

# -- pages (the m3spark.pages table shape) ----------------------------------

LANGS = ["en", "de", "fr", "es", "zh", "ja", "pt", "ru"]
_LANG_P = np.diff([0, 480, 630, 750, 850, 930, 960, 985, 1000]) / 1000.0
_WORDS = (
    "data page web crawl index token table query spark schema value check "
    "valid error drift stat count hash join scan batch text lang html url "
    "node edge graph list tree byte word line time date rank site host path "
    "form link card feed item view post news shop game code file test suite"
).split()
_EPOCH = 1717200000          # 2024-06-01 00:00:00 UTC

# planted defect rates (same as m3spark.pages)
P_BAD_URL = 0.01             # space in the path: fails format uri
P_DUP_URL = 0.005            # copy of another row's url: uniqueness
P_EMPTY_TEXT = 0.01          # fails minLength 1
P_EMOJI = 0.002              # codepoint-length edge case, valid
P_BAD_LANG = 0.005           # outside the enum


def pages_table(seed: int, n_rows: int, days: int = 30) -> pa.Table:
    """``url, warc_ts, html, text, lang`` over a crawl window of ``days``
    days, plus the ``warc_day`` partition column that
    ``m3spark.tables.write_pages`` would add."""
    rng = np.random.default_rng(seed)
    ids = np.arange(n_rows)
    dh = rng.integers(0, 1000, n_rows)
    tail = rng.integers(0, 10000, n_rows)
    hosts = np.where(
        dh < 150, "hot-zero.example.com",
        np.where(dh < 250, "hot-one.example.com",
                 np.where(dh < 300, "hot-two.example.com", "")))
    bad_url = rng.random(n_rows) < P_BAD_URL
    urls = [
        f"https://{h or f'site-{t}.example.org'}/"
        f"{'bad path' if b else 'p'}/{i}"
        for h, t, b, i in zip(hosts.tolist(), tail.tolist(),
                              bad_url.tolist(), ids.tolist())]
    # duplicates copy an EARLIER row's url; a source row is never itself
    # a copy, so every duplicated url occurs exactly twice or more
    dup = np.flatnonzero(rng.random(n_rows) < P_DUP_URL)
    dup = dup[dup > 0]
    src = rng.integers(0, dup, len(dup)) if len(dup) else dup
    for d, s in zip(dup.tolist(), src.tolist()):
        urls[d] = urls[s]

    secs = rng.integers(0, days * 86400, n_rows)
    ts = (np.int64(_EPOCH) + secs).astype("datetime64[s]")

    # text bodies come from a seeded pool: content never affects validity,
    # only the planted emptiness does
    pool = [" ".join(rng.choice(_WORDS, int(2 ** (3 + 5 * u))))
            for u in rng.random(1024)]
    texts = [pool[k] for k in rng.integers(0, len(pool), n_rows).tolist()]
    for k in np.flatnonzero(rng.random(n_rows) < P_EMOJI).tolist():
        texts[k] += " \U0001F600"
    for k in np.flatnonzero(rng.random(n_rows) < P_EMPTY_TEXT).tolist():
        texts[k] = ""
    html = [f"<html><head><title>Page {i}</title></head><body>{t}"
            f"</body></html>".encode() for i, t in zip(ids.tolist(), texts)]

    lang = np.asarray(LANGS, dtype=object)[
        rng.choice(len(LANGS), n_rows, p=_LANG_P)]
    lang[rng.random(n_rows) < P_BAD_LANG] = "xx"

    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
        "html": pa.array(html, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(lang.tolist(), pa.string()),
        "warc_day": pa.array(ts.astype("datetime64[D]"), pa.date32()),
    })


def write_pages(table: pa.Table, path: str, partitioned: bool,
                files: int = 8) -> str:
    """Write ``table`` as a parquet directory: hive-partitioned by
    ``warc_day`` (the deployed layout) or as ``files`` flat files."""
    if partitioned:
        ds.write_dataset(table, path, format="parquet",
                         partitioning=["warc_day"],
                         partitioning_flavor="hive",
                         existing_data_behavior="error")
        return path
    os.makedirs(path)
    flat = table.drop_columns(["warc_day"])
    step = -(-flat.num_rows // files)
    for k in range(files):
        pq.write_table(flat.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return path


# -- schema variants for schema_churn ---------------------------------------

# every pattern and bound below passes on all rows except the planted
# defects, so all variants fail about the same rows and cost about the
# same to execute; they differ in which keywords appear and their values
_URL_PATTERNS = ["^https?://", "^https://", "example\\.(com|org)",
                 "/p/[0-9]+$", "[0-9]$", "^[a-z]+://[a-z0-9.-]+/"]
_TEXT_PATTERNS = ["[a-z]", "^[a-z]", " ", "[a-z]+ [a-z]+"]
_LANG_PATTERNS = ["^[a-z][a-z]$", "^[a-z]+$", "[a-z]$"]
_EXTRA_LANGS = ["it", "nl", "pl", "sv", "ko", "ar", "tr", "cs"]
OPTIONAL_PER_VARIANT = 3
EXTRA_LANGS_PER_VARIANT = 2


def schema_variants(seed: int, n: int) -> list[dict]:
    """``n`` distinct variants of ``PAGES_SCHEMA`` restricted to the
    scalar keywords (type, enum, minLength, maxLength, pattern) that the
    DuckDB mirror in ``oracle.py`` expresses exactly.  ``html`` stays a
    bare ``required`` column, as in the flagship schema.

    Every variant has the same number of checks: four fixed keywords
    with drawn values (a bound, an enum of the crawl's languages plus a
    drawn subset of others) plus ``OPTIONAL_PER_VARIANT`` of the optional
    ones, so variants differ in which keywords appear but not in how much
    there is to compile or how many rows fail.  Which optional keywords
    variant ``i`` has, and which pattern, follow a fixed schedule, and the
    seed draws only the values, so the variants a run reaches cost the
    same under every seed."""
    rng = np.random.default_rng(seed)
    optional = {
        ("url", "pattern"): lambda i: _URL_PATTERNS[i % len(_URL_PATTERNS)],
        ("url", "maxLength"): lambda i: int(rng.integers(64, 2049)),
        ("url", "minLength"): lambda i: int(rng.integers(8, 21)),
        ("text", "maxLength"): lambda i: int(rng.integers(2048, 4097)),
        ("text", "pattern"):
            lambda i: _TEXT_PATTERNS[i % len(_TEXT_PATTERNS)],
        ("lang", "pattern"):
            lambda i: _LANG_PATTERNS[i % len(_LANG_PATTERNS)],
        ("lang", "type"): lambda i: "string",
    }
    keys = list(optional)
    schedule = list(itertools.combinations(range(len(keys)),
                                           OPTIONAL_PER_VARIANT))
    out, seen = [], set()
    while len(out) < n:
        i = len(out)
        props: dict = {
            "url": {"type": "string"},
            "text": {"type": "string",
                     "minLength": int(rng.integers(0, 9))},
            "lang": {"enum": sorted(LANGS + rng.choice(
                _EXTRA_LANGS, EXTRA_LANGS_PER_VARIANT,
                replace=False).tolist())},
        }
        for k in schedule[i % len(schedule)]:
            col, kw = keys[k]
            props[col][kw] = optional[keys[k]](i)
        schema = {
            "$schema": "https://json-schema.org/draft/2020-12/schema",
            "type": "object",
            "required": ["url", "warc_ts", "html", "text", "lang"],
            "properties": props,
        }
        key = json.dumps(schema, sort_keys=True)
        if key not in seen:
            seen.add(key)
            out.append(schema)
    return out


# -- nested JSON documents for json_docs -------------------------------------

DOC_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "required": ["id", "kind", "user", "tags", "score"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "kind": {"enum": ["article", "video", "image", "audio"]},
        "user": {
            "type": "object",
            "required": ["name"],
            "properties": {
                "name": {"type": "string", "minLength": 1},
                "age": {"type": "integer", "minimum": 0,
                        "maximum": 150},
            },
        },
        "tags": {"type": "array", "items": {"type": "string"},
                 "uniqueItems": True, "maxItems": 8},
        "score": {"type": "number", "minimum": 0, "maximum": 100},
        "meta": {"type": "object",
                 "additionalProperties": {"type": "string"}},
    },
}

# each planted defect breaks exactly one keyword of DOC_SCHEMA:
# (defect, keyword the validator reports for it)
DEFECTS = [("id_minimum", "minimum"), ("kind_enum", "enum"),
           ("name_minLength", "minLength"), ("tags_unique", "uniqueItems"),
           ("tags_maxItems", "maxItems"), ("age_maximum", "maximum"),
           ("score_type", "type"), ("name_required", "required"),
           ("meta_value_type", "type")]
P_DEFECT = 0.03


def json_docs(seed: int, n_docs: int) -> tuple[pa.Table, dict]:
    """``(id, doc)`` rows of nested JSON documents, and the planted
    counts ``{"invalid": n, <keyword>: n, ...}`` the oracle expects."""
    rng = np.random.default_rng(seed)
    kinds = ["article", "video", "image", "audio"]
    tags = ["a", "b", "c", "d", "e", "f", "g", "h", "i", "j"]
    planted = {"invalid": 0}
    defect = np.where(rng.random(n_docs) < P_DEFECT,
                      rng.integers(0, len(DEFECTS), n_docs), -1)
    kind = rng.integers(0, len(kinds), n_docs)
    ages = rng.integers(0, 100, n_docs)
    scores = np.round(rng.random(n_docs) * 100, 3)
    ntags = rng.integers(0, 6, n_docs)
    docs = []
    for i in range(n_docs):
        doc = {
            "id": i,
            "kind": kinds[kind[i]],
            "user": {"name": f"user{i % 977}", "age": int(ages[i])},
            "tags": tags[:ntags[i]],
            "score": float(scores[i]),
            "meta": {"src": "crawl", "rev": str(i % 13)},
        }
        d = int(defect[i])
        if d >= 0:
            name, kw = DEFECTS[d]
            planted["invalid"] += 1
            planted[kw] = planted.get(kw, 0) + 1
            if name == "id_minimum":
                doc["id"] = -1 - i
            elif name == "kind_enum":
                doc["kind"] = "podcast"
            elif name == "name_minLength":
                doc["user"]["name"] = ""
            elif name == "tags_unique":
                doc["tags"] = ["a", "b", "a"]
            elif name == "tags_maxItems":
                doc["tags"] = tags[:9]
            elif name == "age_maximum":
                doc["user"]["age"] = 151 + i % 50
            elif name == "score_type":
                doc["score"] = str(doc["score"])
            elif name == "name_required":
                del doc["user"]["name"]
            elif name == "meta_value_type":
                doc["meta"]["rev"] = i % 13
        docs.append(json.dumps(doc, separators=(",", ":")))
    table = pa.table({"id": pa.array(np.arange(n_docs), pa.int64()),
                      "doc": pa.array(docs, pa.string())})
    return table, planted


def write_docs(table: pa.Table, path: str, files: int = 8) -> str:
    os.makedirs(path)
    step = -(-table.num_rows // files)
    for k in range(files):
        pq.write_table(table.slice(k * step, step),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return path
