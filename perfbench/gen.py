"""Seeded input generators. Every function takes the seed as an argument and
writes only under the directory it is given; the engine sees nothing but
the files written here (and, for the crawl, the farm's URLs).

- catalog_tables: the repository's ten test tables (region ... embeddings,
  TESTDATA.md) in their physical layout, one parquet file per table, at a
  given scale.
- curation_corpus: documents + embeddings with planted near-duplicate
  families and exact copies, replicated to a given size.
- crawl_spec: the site farm's hosts, pages, robots rules and ground truth,
  plus the companies.xlsx the crawl starts from.
- catalog_order: the seed's permutation of the frozen catalog query list.
"""
import datetime as dt
import json
import os
import random
import zipfile
from xml.sax.saxutils import escape

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ["en", "zh", "de", "fr", "es"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EPOCH = dt.datetime(1970, 1, 1)


def _write(table, out_dir, name):
    tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
    pq.write_table(table, tmp, row_group_size=1 << 22)
    os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))


def _days(start, end, rng, n):
    lo = (start - EPOCH).days
    hi = (end - EPOCH).days
    return rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000


def _ts(us):
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def _cents(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _docs(rng, n, first_id=0, dup_share=0.05, vocab=VOCAB, zipf=None):
    """Documents of 10..99 tokens with a trailing space, drawn uniformly from
    `vocab` (or Zipf-distributed with exponent `zipf`), and a `dup_share` of
    rows that copy an earlier document with a " dup" tail (the
    near-duplicate shape the repository's test documents carry)."""
    lens = rng.integers(10, 100, n)
    if zipf:
        w = 1.0 / np.arange(1, len(vocab) + 1) ** zipf
        toks = rng.choice(len(vocab), int(lens.sum()), p=w / w.sum())
    else:
        toks = rng.integers(0, len(vocab), int(lens.sum()))
    texts, pos = [], 0
    for i, ln in enumerate(lens):
        if i > 20 and rng.random() < dup_share:
            texts.append(texts[int(rng.integers(0, i))].rstrip(" ") + " dup")
        else:
            texts.append(" ".join(vocab[t] for t in toks[pos:pos + ln]) + " ")
        pos += ln
    ids = np.arange(first_id, first_id + n, dtype="int64")
    return ids, texts


def _documents_table(ids, texts, rng):
    n = len(ids)
    return pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings_table(rng, n, first_id=0, k=10, dim=64):
    centers = rng.normal(0, 1, (k, dim))
    labels = rng.integers(0, k, n)
    v = centers[labels] + rng.normal(0, 1.2, (n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    v = v.astype("float32")
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, n * dim + 1, dim, dtype="int32")),
        pa.array(v.reshape(-1), pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n, dtype="int64")),
        "embedding": emb,
        "label": pa.array(labels.astype("int32")),
    })


def catalog_tables(out_dir, seed, scale):
    """The ten test tables at `scale` (0.1 = 600k lineitem rows)."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = lambda base: max(1, int(base * scale))
    _write(pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}), out_dir, "region")
    _write(pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype="int32") % 5)}), out_dir, "nation")
    nc, ns, np_, no, nl = n(150_000), n(10_000), n(200_000), n(1_500_000), n(6_000_000)
    _write(pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": _cents(rng, -999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"], nc),
    }), out_dir, "customer")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": _cents(rng, -999.99, 9999.99, ns),
    }), out_dir, "supplier")
    adj = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
    pk = np.arange(np_, dtype="int64")
    _write(pa.table({
        "p_partkey": pa.array(pk),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
        "p_type": rng.choice(["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_).astype("int32")),
        "p_retailprice": np.round(900 + (pk % 1000) / 10.0, 1),
    }), out_dir, "part")
    _write(pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
        "o_orderstatus": rng.choice(["O", "F", "P"], no),
        "o_totalprice": _cents(rng, 1000, 500000, no),
        "o_orderdate": _ts(_days(dt.datetime(1995, 1, 1), dt.datetime(2001, 8, 1), rng, no)),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no),
    }), out_dir, "orders")
    _write(pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, np_, nl).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _cents(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["O", "F"], nl),
        "l_shipdate": _ts(_days(dt.datetime(1995, 1, 2), dt.datetime(2001, 11, 4), rng, nl)),
    }), out_dir, "lineitem")
    ne = n(1_000_000)
    ts = int((dt.datetime(2024, 1, 1) - EPOCH).total_seconds() * 1e6) + np.cumsum(
        rng.integers(1, 60_000_000, ne)).astype("int64")
    _write(pa.table({
        "event_id": pa.array(np.arange(ne, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, n(15_000), ne).astype("int64")),
        "event_type": rng.choice(["signup", "click", "error", "view", "purchase"], ne),
        "value": np.round(rng.exponential(45.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }), out_dir, "events")
    ids, texts = _docs(rng, n(50_000))
    _write(_documents_table(ids, texts, rng), out_dir, "documents")
    _write(_embeddings_table(rng, n(20_000)), out_dir, "embeddings")


def curation_corpus(out_dir, seed, n_docs, n_vecs, family_share=0.1):
    """documents + embeddings for the dedup/ANN workload. Text is drawn from
    a Zipf-distributed 20k-word vocabulary (the test tables' 31-word vocabulary
    makes every 3-shingle common, so candidate pairs grow quadratically
    with corpus size). Near-duplicate families are planted with the same
    shape for every seed: a `family_share` of documents are roots, and each
    root gets exactly three copies at seeded positions, one exact, one with
    5% of its tokens replaced (Jaccard well above 0.5) and one embedded in
    a longer document (containment). A quarter of the embeddings are
    near-copies (noise 0.01) of another vector."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    vocab = VOCAB + [f"w{i}" for i in range(20000)]
    ids, texts = _docs(rng, n_docs, dup_share=0.0, vocab=vocab, zipf=1.0)
    n_roots = int(n_docs * family_share)
    slots = rng.permutation(np.arange(n_roots, n_docs))[: 3 * n_roots].reshape(n_roots, 3)
    for r, (exact, edited, contained) in enumerate(slots):
        root = texts[r].split()
        texts[exact] = texts[r]
        toks = list(root)
        for j in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
            toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        texts[edited] = " ".join(toks) + " "
        extra = [vocab[t] for t in rng.integers(0, len(vocab), len(root))]
        texts[contained] = " ".join(extra[: len(extra) // 2] + root + extra[len(extra) // 2:]) + " "
    _write(_documents_table(ids, texts, rng), out_dir, "documents")
    emb = _embeddings_table(rng, n_vecs)
    vec = np.asarray(emb.column("embedding").combine_chunks().values).reshape(n_vecs, -1).copy()
    lab = emb.column("label").to_numpy().copy()
    half = n_vecs // 2
    copies = rng.permutation(np.arange(half, n_vecs))[: n_vecs // 4]
    sources = rng.permutation(half)[: len(copies)]
    for c, src in zip(copies, sources):
        v = vec[src] + rng.normal(0, 0.01, vec.shape[1])
        vec[c] = (v / np.linalg.norm(v)).astype("float32")
        lab[c] = lab[src]
    dim = vec.shape[1]
    _write(pa.table({
        "vec_id": emb.column("vec_id"),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n_vecs * dim + 1, dim, dtype="int32")),
            pa.array(vec.reshape(-1), pa.float32())),
        "label": pa.array(lab.astype("int32")),
    }), out_dir, "embeddings")


def catalog_order(names, seed):
    order = list(names)
    random.Random(seed).shuffle(order)
    return order


# ── crawl: the site farm's content and ground truth ────────────────────

_ADJ = ["Blue", "Granite", "Northern", "Quantum", "Silver", "Rapid", "Coastal", "Prime"]
_NOUN = ["Forge", "Labs", "Systems", "Works", "Dynamics", "Analytics", "Logistics", "Foods"]
_WHAT = ["industrial sensors", "payroll software", "cold-chain storage", "drone parts",
         "freight routing", "solar inverters", "clinical data tools", "retail kiosks"]
_KEYWORDS = ["about", "company", "corporate", "group", "leadership",
             "management", "investor", "who", "overview", "profile"]


def _score(anchor, url):
    a, u = anchor.strip().lower(), url.lower()
    return sum((2 if k in a else 0) + (3 if k in u else 0) for k in _KEYWORDS)


def _selected(base, links, k=3):
    """The reference's link selection over one home page (score by keyword
    hits in anchor and URL, drop score 0, best score per URL, top k by
    score desc then URL)."""
    best = {}
    for href, anchor in links:
        url = base + href
        s = _score(anchor, url)
        if s > 0:
            best[url] = max(best.get(url, 0), s)
    return [u for u, _ in sorted(best.items(), key=lambda kv: (-kv[1], kv[0]))[:k]]


def crawl_spec(seed, n_hosts):
    """Hosts with pages, robots rules, per-host latency and the ground truth
    a correct crawl extracts. Facts (founded, about sentence, email) live
    on the about page only; a decoy with different facts sits on a page
    robots.txt disallows, so a crawl that ignores robots reads wrong
    values. The cost structure is the same for every seed: host i gets the
    i-th entry of fixed cycles of latency, dead/blocked/missing flags and
    link sets, and the seed draws the names, facts and link order. The
    entries stay in input order because the fetch groups hosts into tasks
    round-robin by first appearance: permuting them changed the slowest
    task, and with it the crawl's time, by about 20% from seed to seed."""
    rng = random.Random(seed)
    latency = [80, 120, 160, 200, 100, 140, 180, 120]
    kinds = ["plain", "blocked", "plain", "missing", "plain", "blocked", "plain", "plain",
             "plain", "blocked", "plain", "dead", "plain", "blocked", "plain", "missing"]
    extras = [("/private/overview", "Overview"), ("/team", "Who we are"),
              ("/company/leadership", "Leadership")]
    hosts = []
    for i in range(n_hosts):
        kind = kinds[i % len(kinds)]
        name = f"{rng.choice(_ADJ)} {rng.choice(_NOUN)} {i:03d}"
        slug = name.lower().replace(" ", "-")
        verb = ["Founded in", "Founded", "Established in", "Since"][i % 4]
        founded = f"{verb} {rng.randint(1950, 2020)}"
        about = f"About us {name} builds {rng.choice(_WHAT)} for customers in {rng.randint(3, 90)} countries"
        about_path = ["/about-us", "/about", "/company/about-us"][i % 3]
        links = [(about_path, "About"), ("/products", "Products"), ("/contact", "Contact"),
                 ("/careers", "Careers"), ("/investors", "Investor relations")]
        links += extras[: 1 + i % 3]
        rng.shuffle(links)
        hosts.append({
            "name": name, "latency_ms": latency[i % len(latency)],
            "dead": kind == "dead", "links": links,
            "disallow": ["/private/"] + (["/company/"] if kind == "blocked" else []),
            "about_path": about_path, "missing_about": kind == "missing",
            "facts": {"founded": founded, "email": f"hello{i}@{slug}.example", "about": about},
        })
    return hosts


def crawl_truth(hosts, bases):
    """Expected output row per company, in input order: facts come only
    from an about page that is selected, allowed by robots and present."""
    out = []
    for h, base in zip(hosts, bases):
        row = {"Company Name": h["name"], "Website": base + "/",
               "Founded Info": None, "About Us": None, "Email": None}
        if not h["dead"]:
            sel = _selected(base, h["links"])
            about = base + h["about_path"]
            allowed = not any(h["about_path"].startswith(d) for d in h["disallow"])
            if about in sel and allowed and not h["missing_about"]:
                f = h["facts"]
                row.update({"Founded Info": f["founded"], "About Us": f["about"], "Email": f["email"]})
        out.append(row)
    return out


def write_xlsx(path, header, rows):
    """Minimal one-sheet workbook with inline strings (the subset the
    engine's reader supports)."""
    def col(i):
        s = ""
        i += 1
        while i:
            i, r = divmod(i - 1, 26)
            s = chr(65 + r) + s
        return s

    def row_xml(r, vals):
        cells = "".join(
            f'<c r="{col(j)}{r}" t="inlineStr"><is><t xml:space="preserve">{escape(str(v))}</t></is></c>'
            for j, v in enumerate(vals) if v is not None)
        return f'<row r="{r}">{cells}</row>'

    sheet = ('<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
             '<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>'
             + row_xml(1, header) + "".join(row_xml(i + 2, r) for i, r in enumerate(rows))
             + "</sheetData></worksheet>")
    parts = {
        "[Content_Types].xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">'
            '<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>'
            '<Default Extension="xml" ContentType="application/xml"/>'
            '<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>'
            '<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>'
            '</Types>',
        "_rels/.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>'
            '</Relationships>',
        "xl/workbook.xml":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" '
            'xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">'
            '<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>',
        "xl/_rels/workbook.xml.rels":
            '<?xml version="1.0" encoding="UTF-8" standalone="yes"?>'
            '<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">'
            '<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>'
            '</Relationships>',
        "xl/worksheets/sheet1.xml": sheet,
    }
    with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as z:
        for name, body in parts.items():
            z.writestr(name, body)


def read_xlsx(path):
    """Rows of the first sheet as dicts keyed by the header row (inline or
    shared strings, blank cells absent → None)."""
    import re
    import xml.etree.ElementTree as ET
    ns = {"m": "http://schemas.openxmlformats.org/spreadsheetml/2006/main"}
    with zipfile.ZipFile(path) as z:
        shared = []
        if "xl/sharedStrings.xml" in z.namelist():
            for si in ET.fromstring(z.read("xl/sharedStrings.xml")).findall("m:si", ns):
                shared.append("".join(t.text or "" for t in si.iter(f"{{{ns['m']}}}t")))
        sheet = [n for n in z.namelist() if n.startswith("xl/worksheets/")][0]
        root = ET.fromstring(z.read(sheet))
    grid = []
    for row in root.iter(f"{{{ns['m']}}}row"):
        vals = {}
        for c in row.findall("m:c", ns):
            ref = re.match(r"([A-Z]+)", c.get("r")).group(1)
            idx = 0
            for ch in ref:
                idx = idx * 26 + ord(ch) - 64
            t = c.get("t")
            if t == "inlineStr":
                v = "".join(x.text or "" for x in c.iter(f"{{{ns['m']}}}t"))
            else:
                e = c.find("m:v", ns)
                v = None if e is None else e.text
                if t == "s" and v is not None:
                    v = shared[int(v)]
            vals[idx - 1] = v
        grid.append(vals)
    header = [grid[0][i] for i in sorted(grid[0])]
    return [{h: r.get(i) for i, h in enumerate(header)} for r in grid[1:]]


if __name__ == "__main__":
    import sys
    what, out, seed = sys.argv[1], sys.argv[2], int(sys.argv[3])
    if what == "catalog":
        catalog_tables(out, seed, float(sys.argv[4]))
    elif what == "curation":
        curation_corpus(out, seed, int(sys.argv[4]), int(sys.argv[5]))
    elif what == "crawl":
        print(json.dumps(crawl_spec(seed, int(sys.argv[4])), indent=1))
