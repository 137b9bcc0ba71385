"""Seeded input generator for the transport benchmark.

Builds a TPC-H-like star (region, nation, supplier, customer, brand,
part, partsupp, orders, lineitem) plus an `orders_delta` table of
changed orders for the upsert pass. The same (seed, scale) always gives
byte-identical parquet. Every table with more than `ROWS_PER_FILE` rows
is split over several files, so a scan is never pinned to one task.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROWS_PER_FILE = 40_000
ROW_GROUP = 10_000

# Row counts at scale 1.0 (lineitem averages four lines per order).
BASE = {"supplier": 1_000, "customer": 15_000, "part": 10_000, "orders": 75_000}
SUPPLIERS_PER_PART = 4
DELTA_SHARE = 0.05  # share of orders re-sent with new values for the upsert pass

NATIONS = ["ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
           "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
           "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA", "VIETNAM",
           "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
WORDS = ["almond", "antique", "azure", "blush", "burnished", "chartreuse", "coral",
         "cornsilk", "cyan", "dodger", "firebrick", "forest", "gainsboro", "honeydew",
         "ivory", "khaki", "lavender", "linen", "magenta", "maroon", "midnight", "navy",
         "orchid", "papaya", "peru", "plum", "puff", "rosy", "salmon", "sienna", "smoke",
         "steel", "thistle", "tomato", "violet", "wheat"]
BRAND_WORDS = ["acme", "globex", "initech", "umbrella", "hooli", "vandelay", "stark",
               "wayne", "tyrell", "cyberdyne", "soylent", "wonka", "gringotts", "oscorp"]
BRAND_KINDS = ["tools", "parts", "supply", "works", "metals", "industries"]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dirty(rng, name):
    """One random edit of a brand name: the fuzzy refer's dirty key."""
    kind = rng.integers(0, 5)
    i = int(rng.integers(1, len(name) - 1))
    if kind == 0:
        return name
    if kind == 1:
        return name[:i] + name[i + 1:]                       # dropped char
    if kind == 2:
        return name[:i] + name[i] + name[i:]                 # doubled char
    if kind == 3:
        return name.upper()                                  # shouted
    return name + " inc"                                     # suffix


def tables(seed, scale):
    rng = np.random.default_rng(seed)
    n = {k: max(8, int(v * scale)) for k, v in BASE.items()}
    out = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": NATIONS,
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})

    ns = n["supplier"]
    skeys = np.arange(1, ns + 1, dtype=np.int64)
    out["supplier"] = pa.table({
        "s_suppkey": skeys,
        "s_name": [f"Supplier#{k:09d}" for k in skeys],
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype(np.int32)),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})

    nc = n["customer"]
    ckeys = np.arange(1, nc + 1, dtype=np.int64)
    cnation = rng.integers(0, 25, nc).astype(np.int32)
    out["customer"] = pa.table({
        "c_custkey": ckeys,
        "c_name": [f"Customer#{k:09d}" for k in ckeys],
        # 1% unknown nation: exercises the refer default
        "c_nationkey": pa.array(cnation, mask=rng.random(nc) < 0.01),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, nc)]})

    brands = sorted({f"{a} {b}" for a in BRAND_WORDS for b in BRAND_KINDS})
    brands = [brands[i] for i in sorted(rng.choice(len(brands), 40, replace=False))]
    out["brand"] = pa.table({
        "brand_id": pa.array(np.arange(1, len(brands) + 1, dtype=np.int32)),
        "brand_name": brands})

    npart = n["part"]
    pkeys = np.arange(1, npart + 1, dtype=np.int64)
    w = rng.integers(0, len(WORDS), (npart, 3))
    supp = np.stack([rng.choice(ns, SUPPLIERS_PER_PART, replace=False) + 1
                     for _ in range(npart)])
    out["part"] = pa.table({
        "p_partkey": pkeys,
        "p_name": [" ".join(WORDS[j] for j in row) for row in w],
        "p_brand_raw": [_dirty(rng, brands[i]) for i in rng.integers(0, len(brands), npart)],
        "p_size": pa.array(rng.integers(1, 51, npart).astype(np.int32)),
        "p_retailprice": _money(rng, 900.0, 2000.0, npart),
        "p_suppliers": [",".join(str(s) for s in row) for row in supp]})

    out["partsupp"] = pa.table({
        "ps_partkey": np.repeat(pkeys, SUPPLIERS_PER_PART),
        "ps_suppkey": supp.reshape(-1).astype(np.int64),
        "ps_availqty": pa.array(rng.integers(1, 10_000, npart * SUPPLIERS_PER_PART)
                                .astype(np.int32)),
        "ps_supplycost": _money(rng, 1.0, 1000.0, npart * SUPPLIERS_PER_PART)})

    no = n["orders"]
    okeys = np.sort(rng.choice(4 * no, no, replace=False) + 1).astype(np.int64)
    # a hot tenth of orders belongs to ten customers: probe-key skew
    # that the salted refer is there for
    ocust = np.where(rng.random(no) < 0.1, rng.integers(1, 11, no),
                     rng.integers(1, nc + 1, no)).astype(np.int64)
    odate = (np.datetime64("1995-01-01") + rng.integers(0, 2_000, no)).astype("datetime64[D]")
    ostatus = np.array(["F", "O", "P"])[rng.integers(0, 3, no)]
    out["orders"] = pa.table({
        "o_orderkey": okeys,
        "o_custkey": ocust,
        "o_orderstatus": ostatus.tolist(),
        "o_totalprice": _money(rng, 900.0, 500_000.0, no),
        "o_orderdate": pa.array(odate),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, no)]})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    lorder = np.repeat(okeys, lines)
    lnum = (np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    lpart = rng.integers(1, npart + 1, nl).astype(np.int64)
    lsupp = supp[lpart - 1, rng.integers(0, SUPPLIERS_PER_PART, nl)].astype(np.int64)
    # 2% of lines name a supplier outside partsupp: composite refer miss
    stray = rng.random(nl) < 0.02
    lsupp[stray] = rng.integers(1, ns + 1, int(stray.sum()))
    qty = rng.integers(1, 51, nl).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": lorder,
        "l_partkey": lpart,
        "l_suppkey": lsupp,
        "l_linenumber": pa.array(lnum),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2000.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)].tolist(),
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)].tolist()})

    nd = max(4, int(no * DELTA_SHARE))
    pick = np.sort(rng.choice(no, nd, replace=False))
    od = out["orders"].take(pa.array(pick))
    out["orders_delta"] = od.set_column(
        od.schema.get_field_index("o_totalprice"), "o_totalprice",
        pa.array(_money(rng, 900.0, 500_000.0, nd))).set_column(
        od.schema.get_field_index("o_orderpriority"), "o_orderpriority",
        pa.array([PRIORITIES[i] for i in rng.integers(0, 5, nd)]))
    return out


def write(out_dir, seed, scale):
    """Write every table as `<name>.parquet/part-NNNNN.parquet`; return the
    manifest (rows and bytes per table). A finished directory is reused."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = {"seed": seed, "scale": scale, "tables": {}}
    for name, t in tables(seed, scale).items():
        d = os.path.join(tmp, f"{name}.parquet")
        os.makedirs(d)
        parts = max(1, -(-t.num_rows // ROWS_PER_FILE))
        step = -(-t.num_rows // parts)
        for i in range(parts):
            pq.write_table(t.slice(i * step, step), os.path.join(d, f"part-{i:05d}.parquet"),
                           row_group_size=ROW_GROUP)
        size = sum(os.path.getsize(os.path.join(d, f)) for f in os.listdir(d))
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": size, "files": parts}
    manifest["rows"] = sum(v["rows"] for v in manifest["tables"].values())
    manifest["bytes"] = sum(v["bytes"] for v in manifest["tables"].values())
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest



# ---------------------------------------------------------------- release

VOCAB = ["join", "hash", "row", "batch", "scan", "column", "customer", "filter", "small",
         "slow", "merge", "order", "vector", "line", "table", "data", "agg", "value", "key",
         "stream", "window", "a", "spark", "part", "group", "big", "sort", "query", "fast",
         "the"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
SOURCES_N = 20
EMB_DIM = 64
EMB_CLUSTERS = 10
BATCH_ID_BASE = 20_000_000     # above every day-0 id (the re-crawl copy sits at +1M)
BATCH_ID_STEP = 100_000        # batch k's ids are BATCH_ID_BASE + k * BATCH_ID_STEP + i
DEAD_SHARE = 0.03              # share of day-0 and batch ids a `forget` removes


def _text(rng, lo=10, hi=100):
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), int(rng.integers(lo, hi))))


def _markup(text):
    """Every third token followed by a stray comma: the markup variant."""
    return " ".join(w + " ," if (i + 1) % 3 == 0 else w for i, w in enumerate(text.split()))


def _prefix(text, share):
    toks = text.split()
    return " ".join(toks[:max(1, -(-len(toks) * int(share * 100) // 100))])


def release_tables(seed, docs, batches, batch_docs):
    """Day-0 documents and embeddings, `batches` crawl batches, and the
    ids a `forget` removes. Day 0 holds exact and near copies of its own
    documents; each crawl batch mixes re-crawls (byte-identical copies of
    day-0 documents), 75% prefixes and markup variants of day-0
    documents, new documents, and pairs of identical new documents, with
    ids rising from batch to batch."""
    rng = np.random.default_rng(seed)
    text = []
    for i in range(docs):
        r = rng.random()
        if i > 10 and r < 0.04:
            text.append(text[int(rng.integers(0, i))])                   # exact dup
        elif i > 10 and r < 0.08:
            text.append(_prefix(text[int(rng.integers(0, i))], 0.75))    # near dup
        else:
            text.append(_text(rng))
    ids = np.arange(docs, dtype=np.int64)
    out = {"documents": pa.table({
        "doc_id": ids,
        "text": text,
        "lang": [LANGS[i] for i in rng.integers(0, len(LANGS), docs)],
        "source": [f"src{i % SOURCES_N}" for i in range(docs)],
        "n_chars": pa.array([len(t) for t in text], pa.int64())})}
    centers = rng.normal(0.0, 1.0, (EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, docs)
    vec = (centers[label] + rng.normal(0.0, 0.15, (docs, EMB_DIM))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": ids,
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32))})

    batch_ids = []
    for k in range(batches):
        rows = []
        while len(rows) < batch_docs:
            r = rng.random()
            src = int(rng.integers(0, docs))
            if r < 0.2:
                rows.append(text[src])                    # re-crawl
            elif r < 0.35:
                rows.append(_prefix(text[src], 0.75))     # near dup of day 0
            elif r < 0.5:
                rows.append(_markup(text[src]))           # markup variant
            elif r < 0.9:
                rows.append(_text(rng))                   # new
            else:
                t = _text(rng)
                rows += [t, t]                            # within-batch dup pair
        rows = rows[:batch_docs]
        bid = BATCH_ID_BASE + k * BATCH_ID_STEP + np.arange(len(rows), dtype=np.int64)
        batch_ids.append(bid)
        out[f"batch-{k:03d}"] = pa.table({
            "doc_id": bid,
            "source": [f"src{i % SOURCES_N}" for i in rng.integers(0, SOURCES_N, len(rows))],
            "text": rows})
    every = np.concatenate([ids] + batch_ids)
    dead = np.sort(rng.choice(every, max(1, int(len(every) * DEAD_SHARE)), replace=False))
    out["dead"] = pa.table({"doc_id": dead.astype(np.int64)})
    return out


def write_release(out_dir, seed, docs, batches, batch_docs):
    """Write the release inputs as single parquet files under `out_dir`
    (`documents`, `embeddings` and `dead` as `<name>.parquet`, the crawl
    batches under `batches/`); return the manifest. A finished directory
    is reused."""
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "batches"))
    manifest = {"seed": seed, "tables": {}}
    for name, t in release_tables(seed, docs, batches, batch_docs).items():
        path = os.path.join(tmp, "batches" if name.startswith("batch-") else "",
                            f"{name}.parquet")
        pq.write_table(t, path, row_group_size=ROW_GROUP)
        manifest["tables"][name] = {"rows": t.num_rows, "bytes": os.path.getsize(path),
                                    "files": 1}
    manifest["batches"] = batches
    manifest["max_batch_id"] = BATCH_ID_BASE + (batches - 1) * BATCH_ID_STEP + batch_docs - 1
    manifest["rows"] = sum(v["rows"] for v in manifest["tables"].values())
    manifest["bytes"] = sum(v["bytes"] for v in manifest["tables"].values())
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)
    return manifest
