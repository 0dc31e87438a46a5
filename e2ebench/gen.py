"""Seeded input generators for the two workloads, with ground truth.

Each generator writes the files the program reads plus `truth.json`, the
values the output checks need, computed here without the library: the
reference job's pandas semantics restated over plain rows for the ETL
outputs, Python sets and union-find for the corpus, and plain-Python
graph algorithms that follow the registry's oracle SQL for the graph.
Sizes and planted shares are fixed per workload; only the seed varies.
Only the Python standard library is used, so any `python3` can run it.
"""
import datetime
import hashlib
import json
import math
import os
import random
import re
import struct
from collections import Counter, defaultdict

# --- etl_csv -------------------------------------------------------------
SALES_ROWS = 150_000        # rows before planted duplicates are added
CUSTOMERS = 20_000
PRODUCTS = 2_000
CATEGORIES = ["Electronics", "Books", "Toys", "Garden", "Food", "Sports",
              "Beauty", "Office"]
DUP_SHARE = 0.08            # extra rows that copy an earlier row exactly
NULL_CUSTOMER_SHARE = 0.03
NULL_CATEGORY_SHARE = 0.04
BAD_DATE_SHARE = 0.02       # unparseable order_date text
EMPTY_DATE_SHARE = 0.01
CUST_NULL_ID_SHARE = 0.02
CUST_BAD_EMAIL_SHARE = 0.10
CUST_BAD_DATE_SHARE = 0.03
CUST_NULL_REGION_SHARE = 0.05
EMAIL_RE = re.compile(r"^[A-Za-z0-9_.-]+@[A-Za-z0-9_.-]+\.[A-Za-z0-9_]+$")

# --- north_star: corpus part ---------------------------------------------
DOCS = 6_000
VOCAB = 5_000
LOW_QUALITY_SHARE = 0.05
EXACT_COPY_SHARE = 0.06
NEAR_COPY_SHARE = 0.08
CHAIN_SHARE = 0.3           # near-copies made from an earlier near-copy
STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "on", "for"]
QUALITY_MIN = 3.0           # the workflow's gate, shingle size and threshold
SHINGLE_N = 7
JACCARD_MIN = 0.7

# --- north_star: graph part ----------------------------------------------
ORDERS = 8_000
PARTS = 4_000
PART_SKEW = 0.8             # popularity of the part of rank r ~ r^-PART_SKEW
PAGERANK_ITERS = 3          # the registry's g4 and g13 round counts
LPA_ROUNDS = 4


def _cum_zipf(n, s):
    acc, out = 0.0, []
    for r in range(1, n + 1):
        acc += r ** -s
        out.append(acc)
    return out


def _write_truth(out, truth):
    tmp = os.path.join(out, "truth.json.tmp")
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, os.path.join(out, "truth.json"))


def rows_sha1(rows):
    """Digest of a table's rows, independent of row order."""
    text = "\n".join(sorted(",".join(map(str, r)) for r in rows))
    return hashlib.sha1(text.encode()).hexdigest()


# --- a minimal parquet writer -------------------------------------------
# One row group, one PLAIN-encoded uncompressed data page per column, all
# columns REQUIRED (so pages carry no level data). Enough for the flat,
# null-free input tables below; the footer is Thrift compact protocol.
_BOOL, _I32, _I64, _BIN, _LIST, _STRUCT = 1, 5, 6, 8, 9, 12
# kind -> (physical type, converted type, logical type, struct format)
_KINDS = {
    "int32": (1, None, None, "i"),
    "int64": (2, None, None, "q"),
    "double": (5, None, None, "d"),
    "string": (6, 0, [(1, _STRUCT, [])], None),                 # UTF8 / STRING
    "timestamp_us": (2, None, [(8, _STRUCT, [(1, _BOOL, False),  # not UTC-adjusted
                                              (2, _STRUCT, [(2, _STRUCT, [])])])], "q"),
}


def _uvarint(n):
    out = bytearray()
    while True:
        b, n = n & 0x7F, n >> 7
        out.append(b | 0x80 if n else b)
        if not n:
            return bytes(out)


def _tvalue(t, v):
    if t in (_I32, _I64):
        return _uvarint((v << 1) ^ (v >> 63))
    if t == _BIN:
        b = v.encode() if isinstance(v, str) else v
        return _uvarint(len(b)) + b
    if t == _STRUCT:
        return _tstruct(v)
    et, items = v
    head = bytes([len(items) << 4 | et]) if len(items) < 15 else \
        bytes([0xF0 | et]) + _uvarint(len(items))
    return head + b"".join(_tvalue(et, x) for x in items)


def _tstruct(fields):
    out, last = bytearray(), 0
    for fid, t, v in fields:
        if v is None:
            continue
        ct = (1 if v else 2) if t == _BOOL else t
        if 0 < fid - last <= 15:
            out.append((fid - last) << 4 | ct)
        else:
            out.append(ct)
            out += _uvarint(fid << 1)
        last = fid
        if t != _BOOL:
            out += _tvalue(t, v)
    out.append(0)
    return bytes(out)


def write_parquet(path, columns):
    """Writes `columns`, a list of (name, kind, values), as one parquet file."""
    n = len(columns[0][2])
    body = bytearray(b"PAR1")
    chunks, schema = [], [[(4, _BIN, "schema"), (5, _I32, len(columns))]]
    for name, kind, values in columns:
        assert len(values) == n, name
        ptype, conv, logical, fmt = _KINDS[kind]
        if fmt:
            data = struct.pack(f"<{n}{fmt}", *values)
        else:
            enc = [v.encode() for v in values]
            data = b"".join(struct.pack("<I", len(b)) + b for b in enc)
        header = _tstruct([(1, _I32, 0), (2, _I32, len(data)), (3, _I32, len(data)),
                           (5, _STRUCT, [(1, _I32, n), (2, _I32, 0), (3, _I32, 3),
                                         (4, _I32, 3)])])
        offset = len(body)
        body += header + data
        size = len(header) + len(data)
        meta = [(1, _I32, ptype), (2, _LIST, (_I32, [0])), (3, _LIST, (_BIN, [name])),
                (4, _I32, 0), (5, _I64, n), (6, _I64, size), (7, _I64, size),
                (9, _I64, offset)]
        chunks.append([(2, _I64, offset), (3, _STRUCT, meta)])
        schema.append([(1, _I32, ptype), (3, _I32, 0), (4, _BIN, name),
                       (6, _I32, conv), (10, _STRUCT, logical)])
    footer = _tstruct([
        (1, _I32, 1), (2, _LIST, (_STRUCT, schema)), (3, _I64, n),
        (4, _LIST, (_STRUCT, [[(1, _LIST, (_STRUCT, chunks)),
                               (2, _I64, len(body) - 4), (3, _I64, n)]]))])
    body += footer + struct.pack("<I", len(footer)) + b"PAR1"
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(body)
    os.replace(tmp, path)


# --------------------------------------------------------------------------
def _write_csv(path, header, rows):
    def cell(v):
        return "" if v is None else str(v)
    with open(path, "w") as f:
        f.write(",".join(header) + "\n")
        f.writelines(",".join(map(cell, r)) + "\n" for r in rows)


def gen_etl_csv(out, seed):
    rng = random.Random(seed)
    price = [rng.randint(100, 50_000) for _ in range(PRODUCTS)]      # cents
    cat = [rng.choice(CATEGORIES) for _ in range(PRODUCTS)]
    popularity = list(range(PRODUCTS))
    rng.shuffle(popularity)
    cum = _cum_zipf(PRODUCTS, 0.7)
    days = [(datetime.date(2023, 1, 1) + datetime.timedelta(d)).isoformat()
            for d in range(730)]

    n = SALES_ROWS
    order_id = sorted(rng.randrange(1, n // 3) for _ in range(n))
    prod = [popularity[r] for r in rng.choices(range(PRODUCTS), cum_weights=cum, k=n)]
    base = [(order_id[i], rng.randint(1, CUSTOMERS), prod[i], rng.randint(1, 10),
             days[rng.randrange(730)]) for i in range(n)]
    # planted exact duplicates: copies of random earlier rows, spliced in at
    # random later positions
    n_dup = int(n * DUP_SHARE)
    order = [(float(i), i) for i in range(n)]
    for _ in range(n_dup):
        src = rng.randrange(n)
        order.append((src + rng.uniform(0.1, n - src), src))
    order.sort()

    rows = []
    for _, i in order:
        oid, cust, p, qty, date = base[i]
        # dirt, drawn per row after the copies were made
        u = rng.random(), rng.random(), rng.random(), rng.random()
        customer = None if u[0] < NULL_CUSTOMER_SHARE else f"C{cust:06d}"
        category = None if u[1] < NULL_CATEGORY_SHARE else cat[p]
        if u[2] < BAD_DATE_SHARE:
            date = "unknown" if u[3] < 0.5 else "n/a"
        elif u[2] < BAD_DATE_SHARE + EMPTY_DATE_SHARE:
            date = None
        rows.append((oid, customer, f"P{p:05d}", f"Product {p}", qty,
                     f"{price[p] // 100}.{price[p] % 100:02d}", date, category))
    os.makedirs(out, exist_ok=True)
    _write_csv(os.path.join(out, "sales.csv"),
               ["order_id", "customer_id", "product_id", "product_name", "quantity",
                "unit_price", "order_date", "category"], rows)

    customers = []
    bad_emails = 0
    for i in range(1, CUSTOMERS + 1):
        u = rng.random(), rng.random(), rng.random(), rng.random()
        email = f"user{i}.example.com" if u[1] < CUST_BAD_EMAIL_SHARE else f"user{i}@example.com"
        reg = "n/a" if u[2] < CUST_BAD_DATE_SHARE else \
            (datetime.date(2020, 1, 1) + datetime.timedelta(rng.randrange(2000))).isoformat()
        region = None if u[3] < CUST_NULL_REGION_SHARE else rng.choice(
            ["North", "South", "East", "West"])
        cid = None if u[0] < CUST_NULL_ID_SHARE else f"C{i:06d}"
        customers.append((cid, f"customer {i}", email, reg, region))
        if cid is not None and not EMAIL_RE.match(email):
            bad_emails += 1
    _write_csv(os.path.join(out, "customers.csv"),
               ["customer_id", "customer_name", "email", "registration_date", "region"],
               customers)

    # ground truth with the reference's semantics (pandas, file order):
    # drop_duplicates on the key keeping the first, then dropna, then
    # category fillna("Unknown"); money in exact cents
    seen, clean = set(), []
    for r in rows:
        key = (r[0], r[2], r[4], r[5])
        if key in seen:
            continue
        seen.add(key)
        if r[1] is not None and r[6] not in (None, "unknown", "n/a"):
            clean.append(r)
    summary = defaultdict(lambda: [0, 0])
    ranking = defaultdict(lambda: [0, 0])
    for oid, _, pid, _, qty, _, date, category in clean:
        cents = qty * price[int(pid[1:])]
        s = summary[(category or "Unknown", date[:7])]
        s[0] += qty
        s[1] += cents
        r = ranking[pid]
        r[0] += qty
        r[1] += cents
    top = sorted(ranking.items(), key=lambda kv: (-kv[1][0], -kv[1][1], kv[0]))[:5]
    _write_truth(out, {
        "input_rows": len(rows),
        "planted_duplicates": n_dup,
        "clean_sales": len(clean),
        "clean_customers": sum(c[0] is not None for c in customers),
        "invalid_emails": bad_emails,
        "summary_groups": len(summary),
        "summary_quantity": sum(s[0] for s in summary.values()),
        "summary_sales": sum(s[1] for s in summary.values()) / 100,
        "top_products": [pid for pid, _ in top],
    })


# --------------------------------------------------------------------------
def _shingles(text, n):
    toks = text.strip().lower().split()
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def _quality(text):
    toks = text.strip().lower().split()
    punct = sum(text.count(c) for c in ".,!?;:") / len(text)
    stop = sum(t in STOPWORDS for t in toks) / len(toks)
    return math.sqrt(len(toks)) * (1 - punct) * (0.5 + 0.5 * stop)


def _find(parent, x):
    while parent[x] != x:
        parent[x] = parent[parent[x]]
        x = parent[x]
    return x


def _gen_corpus(out, rng):
    letters = "abcdefghijklmnopqrstuvwxyz"
    words = list(STOPWORDS)
    seen = set(words)
    while len(words) < VOCAB:
        w = "".join(rng.choice(letters) for _ in range(rng.randint(3, 9)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    cum = _cum_zipf(VOCAB, 1.1)

    n_low = int(DOCS * LOW_QUALITY_SHARE)
    n_exact = int(DOCS * EXACT_COPY_SHARE)
    n_near = int(DOCS * NEAR_COPY_SHARE)
    n_base = DOCS - n_low - n_exact - n_near
    texts, links = [], []   # links: (copy index, source index) of near-copies
    for _ in range(n_base):
        toks = rng.choices(words, cum_weights=cum, k=rng.randint(60, 140))
        for j in range(14, len(toks), 15):
            toks[j] += "."
        texts.append(" ".join(toks))
    junk = ["!!!", "???", ";;", "buy", "now", "$$$", "::"]
    for _ in range(n_low):
        texts.append(" ".join(rng.choice(junk) for _ in range(rng.randint(2, 5))))
    for _ in range(n_exact):
        texts.append(texts[rng.randrange(n_base)])
    near_ids = []
    for _ in range(n_near):
        if near_ids and rng.random() < CHAIN_SHARE:
            s = rng.choice(near_ids)
        else:
            s = rng.randrange(n_base)
        toks = texts[s].split(" ")
        j = rng.randrange(len(toks))
        w = toks[j]
        while w == toks[j]:
            w = words[rng.randrange(len(STOPWORDS), VOCAB)]
        toks[j] = w
        links.append((len(texts), s))
        near_ids.append(len(texts))
        texts.append(" ".join(toks))

    ids = list(range(1, DOCS + 1))
    rng.shuffle(ids)
    write_parquet(os.path.join(out, "documents.parquet"),
                  [("doc_id", "int64", ids), ("text", "string", texts)])

    # ground truth: quality by construction (guarded by the formula),
    # exact copies by text, components by union-find over planted links
    low = range(n_base, n_base + n_low)
    for i in range(DOCS):
        q = _quality(texts[i])
        if (q > QUALITY_MIN - 1.0) if i in low else (q < QUALITY_MIN + 1.0):
            raise AssertionError(f"quality of doc {i} too close to the gate: {q}")
    rep = {}
    for i in range(DOCS):
        if i in low:
            continue
        t = texts[i]
        if t not in rep or ids[i] < ids[rep[t]]:
            rep[t] = i
    parent = {i: i for i in rep.values()}
    for c, s in links:
        a, b = rep[texts[c]], rep[texts[s]]
        if a == b:
            continue
        sa, sb = _shingles(texts[a], SHINGLE_N), _shingles(texts[b], SHINGLE_N)
        j = len(sa & sb) / len(sa | sb)
        if j < JACCARD_MIN:
            raise AssertionError(f"planted near-copy below the threshold: {j}")
        parent[_find(parent, a)] = _find(parent, b)
    members = defaultdict(list)
    for i in parent:
        members[_find(parent, i)].append(ids[i])
    survivors = sorted(min(m) for m in members.values())
    clustered = [m for m in members.values() if len(m) > 1]
    return {
        "docs": DOCS,
        "survivors": len(survivors),
        "survivors_sha1": hashlib.sha1(",".join(map(str, survivors)).encode()).hexdigest(),
        "components": len(clustered),
        "clustered_docs": sum(len(m) for m in clustered),
    }


def _gen_graph(out, rng):
    cum = _cum_zipf(PARTS, PART_SKEW)
    rank_to_part = list(range(1, PARTS + 1))
    rng.shuffle(rank_to_part)
    epoch = datetime.date(1970, 1, 1)
    first_ship = (datetime.date(1992, 1, 2) - epoch).days
    cols = defaultdict(list)
    baskets = []
    for o in range(1, ORDERS + 1):
        key = o * 4 - rng.randrange(4)
        size = rng.randint(1, 7)
        parts = [rank_to_part[r] for r in rng.choices(range(PARTS), cum_weights=cum, k=size)]
        baskets.append((key, parts))
        for line, part in enumerate(parts, 1):
            qty = float(rng.randint(1, 50))
            cols["l_orderkey"].append(key)
            cols["l_partkey"].append(part)
            cols["l_suppkey"].append(rng.randint(1, 1000))
            cols["l_linenumber"].append(line)
            cols["l_quantity"].append(qty)
            cols["l_extendedprice"].append(round(qty * rng.uniform(900, 2000), 2))
            cols["l_discount"].append(rng.randint(0, 10) / 100)
            cols["l_tax"].append(rng.randint(0, 8) / 100)
            cols["l_returnflag"].append(rng.choice("ANR"))
            cols["l_linestatus"].append(rng.choice("FO"))
            cols["l_shipdate"].append((first_ship + rng.randrange(2500)) * 86_400_000_000)
    kinds = [("l_orderkey", "int64"), ("l_partkey", "int64"), ("l_suppkey", "int64"),
             ("l_linenumber", "int32"), ("l_quantity", "double"),
             ("l_extendedprice", "double"), ("l_discount", "double"), ("l_tax", "double"),
             ("l_returnflag", "string"), ("l_linestatus", "string"),
             ("l_shipdate", "timestamp_us")]
    write_parquet(os.path.join(out, "lineitem.parquet"),
                  [(name, kind, cols[name]) for name, kind in kinds])

    # the co-purchase graph of the registry's g* fixture: distinct parts of
    # the orders whose md5 starts with 0-3, edge weight = shared orders
    w = Counter()
    for key, parts in baskets:
        if hashlib.md5(str(key).encode()).hexdigest()[0] not in "0123":
            continue
        ps = sorted(set(parts))
        w.update((a, b) for i, a in enumerate(ps) for b in ps[i + 1:])
    adj = defaultdict(dict)
    for (u, v), c in w.items():
        adj[u][v] = c
        adj[v][u] = c
    nodes = sorted(adj)

    # g2: triangles through each node
    tri = Counter()
    for u, v in w:
        for x in adj[u].keys() & adj[v].keys():
            if x > v:
                tri.update((u, v, x))
    # g4: three integer PageRank iterations, floor division as in the oracle
    wout = {u: sum(adj[u].values()) for u in nodes}
    pr = {u: 10 ** 12 for u in nodes}
    for _ in range(PAGERANK_ITERS):
        acc = Counter()
        for u in nodes:
            for v, c in adj[u].items():
                acc[v] += pr[u] * c // wout[u]
        pr = {v: 150_000_000_000 + 85 * s // 100 for v, s in acc.items()}
    # g13: synchronous weighted label propagation, ties to the smaller label
    label = {u: u for u in nodes}
    for _ in range(LPA_ROUNDS):
        new = {}
        for u in nodes:
            tot = Counter()
            for v, c in adj[u].items():
                tot[label[v]] += c
            new[u] = min(tot.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        label = new
    size = Counter(label.values())
    # g5: components by union-find, labelled by their smallest part id
    parent = {u: u for u in nodes}
    for u, v in w:
        ru, rv = _find(parent, u), _find(parent, v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    comp = {u: _find(parent, u) for u in nodes}
    return {
        "lineitems": len(cols["l_orderkey"]),
        "g2_triangle_count": rows_sha1(sorted(tri.items())),
        "g4_pagerank": rows_sha1(sorted(pr.items())),
        "g13_label_propagation": rows_sha1((u, label[u], size[label[u]]) for u in nodes),
        "g5_connected_components": rows_sha1(sorted(comp.items())),
        "nodes": len(nodes),
        "components": len(set(comp.values())),
    }


def gen_north_star(out, seed):
    rng = random.Random(seed)
    os.makedirs(out, exist_ok=True)
    truth = {"corpus": _gen_corpus(out, rng), "graph": _gen_graph(out, rng)}
    truth["input_rows"] = truth["corpus"]["docs"] + truth["graph"]["lineitems"]
    _write_truth(out, truth)


GENERATORS = {
    "etl_csv": gen_etl_csv,
    "north_star": gen_north_star,
}
