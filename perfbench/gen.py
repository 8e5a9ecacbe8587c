"""Seeded input generators for the benchmark.

Everything the program under test reads is made here, from the workload
seed alone: the star-schema parquet tables the queries scan, the ingest
drop zone with its expected warehouse state, and the live-gate batches
with the drop stage planted in each document. The same seed always gives
byte-identical inputs.
"""
import csv
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------- star schema

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "red", "green", "small", "large", "shiny", "dark", "old"]
NOUNS = ["anvil", "widget", "bolt", "ring", "gear", "spring", "valve", "nut"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()


def _days(lo, hi, n, rng):
    """n midnight timestamps drawn uniformly from [lo, hi] (ISO dates)."""
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    d = rng.integers(a, b + 1, n).astype("datetime64[D]")
    return pa.array(d.astype("datetime64[us]"), pa.timestamp("us"))


def _money(lo, hi, n, rng):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(tables, out):
    os.makedirs(out, exist_ok=True)
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                       compression="snappy")


def documents(n, rng):
    """(doc_id, text, lang, source) with 5% "<other doc> dup" near-copies;
    returns the columns and the set of doc ids involved in a copy pair."""
    lens = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(VOCAB, k)) for k in lens]
    copies = set()
    for i in rng.choice(n, round(n * 0.05), replace=False):
        j = int(rng.integers(0, n))
        if j != i and i not in copies and j not in copies:
            texts[i] = texts[j] + " dup"
            copies.update((int(i), j))
    cols = {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    return cols, texts, copies


def star_schema(out, sf, seed, only_documents=False):
    """The ten tables of the query fixture at scale factor `sf` (lineitem
    has 6,000,000 x sf rows), with the column domains the registered
    queries and their DuckDB oracles expect."""
    rng = np.random.default_rng([seed, 1])
    n_docs = max(500, int(50000 * sf))
    docs, texts, copies = documents(n_docs, rng)
    tables = {"documents": docs}
    if not only_documents:
        n_cust, n_supp = int(150000 * sf), int(10000 * sf)
        n_part, n_ord = int(200000 * sf), int(1500000 * sf)
        n_line, n_ev = int(6000000 * sf), int(1000000 * sf)
        n_emb = max(500, int(20000 * sf))
        names = [f"{c} {w}" for c in COLORS for w in NOUNS]
        emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
        emb /= np.linalg.norm(emb, axis=1, keepdims=True)
        ev_s = np.sort(rng.uniform(0, 30 * 86400, n_ev))
        tables.update({
            "region": {"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                       "r_name": pa.array(REGIONS)},
            "nation": {"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                       "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                       "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)},
            "customer": {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(_money(-999.99, 9999.99, n_cust, rng)),
                "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))},
            "supplier": {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(_money(-999.99, 9999.99, n_supp, rng))},
            "part": {
                "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
                "p_name": pa.array(rng.choice(names, n_part)),
                "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
                "p_type": pa.array(rng.choice(PTYPES, n_part)),
                "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
                "p_retailprice": pa.array(
                    np.round(900 + (np.arange(n_part) % 1000) / 10, 1))},
            "orders": {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": pa.array(_money(1000, 500000, n_ord, rng)),
                "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
                "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))},
            "lineitem": {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_line)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
                "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
                "l_extendedprice": pa.array(_money(900, 105000, n_line, rng)),
                "l_discount": pa.array(np.round(rng.uniform(0, 0.1, n_line), 2)),
                "l_tax": pa.array(np.round(rng.uniform(0, 0.08, n_line), 2)),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
                "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng)},
            "events": {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us")
                               + (ev_s * 1e6).astype("timedelta64[us]"),
                               pa.timestamp("us")),
                "user_id": pa.array(rng.integers(0, max(1, int(15000 * sf)), n_ev)),
                "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])},
            "embeddings": {
                "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
                "embedding": pa.array(list(emb), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))},
        })
    _write(tables, out)
    return texts, copies


# --------------------------------------------------------------- ingest zone

SALE_COLS = ["sale_id", "sale_date", "customer_id", "product_id", "quantity",
             "amount"]


def _sales(rng, n, key_pool):
    """n sale records: keys drawn from a pool shared by every file (so later
    files update earlier keys) plus in-file repeats with distinct dates."""
    keys = rng.choice(key_pool, n)
    base = dt.datetime(2024, 1, 1)
    secs = rng.choice(180 * 86400, n, replace=False)
    rows = []
    for k, s in zip(keys, secs):
        rows.append({
            "sale_id": str(k),
            "sale_date": (base + dt.timedelta(seconds=int(s))).strftime("%Y-%m-%d %H:%M:%S"),
            "customer_id": f"CUST-{int(rng.integers(1, 5000)):04d}",
            "product_id": f"PROD-{int(rng.integers(1, 500)):03d}",
            "quantity": str(int(rng.integers(1, 20))),
            "amount": f"{rng.uniform(1, 2000):.2f}",
        })
    return rows


def _write_csv(path, rows, cols):
    with open(path, "w", newline="") as f:
        w = csv.DictWriter(f, fieldnames=cols, extrasaction="ignore")
        w.writeheader()
        w.writerows(rows)


def _write_parquet(path, rows):
    ts = [dt.datetime.strptime(r["sale_date"], "%Y-%m-%d %H:%M:%S") for r in rows]
    pq.write_table(pa.table({
        "sale_id": pa.array([r["sale_id"] for r in rows]),
        "sale_date": pa.array(ts, pa.timestamp("us")),
        "customer_id": pa.array([r["customer_id"] for r in rows]),
        "product_id": pa.array([r["product_id"] for r in rows]),
        "quantity": pa.array([int(r["quantity"]) for r in rows], pa.int64()),
        "amount": pa.array([float(r["amount"]) for r in rows]),
    }), path)


def ingest_zone(out, seed, n_files, rows_per_file):
    """A drop zone of `n_files` files cycling through every accepted format
    (csv, ndjson, array json, parquet, extensionless parquet and csv), plus
    three planted-invalid files. Writes zone/, expected.csv (the warehouse
    state after loading every valid file in name order) and manifest.tsv
    (each file with its kind, and the rows the zone holds)."""
    rng = np.random.default_rng([seed, 2])
    zone = os.path.join(out, "zone")
    os.makedirs(zone, exist_ok=True)
    pool = np.array([f"S-{i:07d}" for i in range(int(n_files * rows_per_file * 0.6))])
    formats = ["csv", "ndjson", "json", "parquet", "noext_parquet", "noext_csv"]
    final, valid, rows_read = {}, [], 0
    for i in range(n_files):
        fmt = formats[i % len(formats)]
        name = f"f{i:03d}_" + {"noext_parquet": "pq", "noext_csv": "txt"}.get(fmt, "s")
        name += {"csv": ".csv", "ndjson": ".ndjson", "json": ".json",
                 "parquet": ".parquet"}.get(fmt, "")
        rows = _sales(rng, rows_per_file, pool)
        path = os.path.join(zone, name)
        if fmt in ("csv", "noext_csv"):
            _write_csv(path, rows, SALE_COLS)
        elif fmt == "ndjson":
            with open(path, "w") as f:
                f.writelines(json.dumps(r) + "\n" for r in rows)
        elif fmt == "json":
            with open(path, "w") as f:
                json.dump(rows, f)
        else:
            _write_parquet(path, rows)
        valid.append(name)
        rows_read += len(rows)
        # keep-latest within the file (dates are distinct), then the later
        # file wins across files: the upsert overwrites whatever was there
        latest = {}
        for r in rows:
            cur = latest.get(r["sale_id"])
            if cur is None or r["sale_date"] > cur["sale_date"]:
                latest[r["sale_id"]] = r
        final.update(latest)
    # planted-invalid files, named to sort among the valid ones
    bad = _sales(rng, 100, pool)
    _write_csv(os.path.join(zone, "f000_missing_col.csv"), bad,
               [c for c in SALE_COLS if c != "amount"])
    whole = os.path.join(out, "whole.parquet")
    _write_parquet(whole, bad)
    with open(whole, "rb") as f:
        blob = f.read()
    os.remove(whole)
    with open(os.path.join(zone, "f002_truncated.parquet"), "wb") as f:
        f.write(blob[: len(blob) // 2])
    for r in bad[10:14]:
        r["sale_date"] = "not-a-date"
    _write_csv(os.path.join(zone, "f001_bad_dates.csv"), bad, SALE_COLS)
    invalid = ["f000_missing_col.csv", "f001_bad_dates.csv", "f002_truncated.parquet"]
    rows_read += 3 * len(bad)
    with open(os.path.join(out, "expected.csv"), "w", newline="") as f:
        w = csv.writer(f)
        for k in sorted(final):
            r = final[k]
            w.writerow([r["sale_id"], r["sale_date"], r["customer_id"],
                        r["product_id"], int(r["quantity"]), float(r["amount"])])
    with open(os.path.join(out, "manifest.tsv"), "w") as f:
        f.writelines([f"valid\t{n}\n" for n in valid] + [f"invalid\t{n}\n" for n in invalid]
                     + [f"rows_read\t{rows_read}\n"])


# --------------------------------------------------------------- gate batches

def _quality(toks):
    n_chars = sum(map(len, toks)) + max(len(toks) - 1, 0)
    n_stop = sum(t in ("the", "a") for t in toks)
    return (min(1.0, len(toks) / 100) * 0.4 + (1 - n_stop / len(toks)) * 0.3
            + min(1.0, n_chars / 500) * 0.3)


def gate_batches(out, seed, n_warm, n_batches, per_cohort):
    """The live gate's arrivals: `n_warm` warm-up batches, then `n_batches`
    timed ones, of near-clones of the
    body corpus (documents whose doc_id is not 7 mod 10), each holding
    `per_cohort` documents planted to be dropped at each gate stage in the
    q437 cohort shapes, plus an admitted cohort. Base documents are taken
    only where no earlier gate can claim them: quality well above the
    0.5 cut, at least 30 tokens, and not part of a "dup" copy pair."""
    texts, copies = star_schema(out, 0.0, seed, only_documents=True)
    rng = np.random.default_rng([seed, 3])
    n = len(texts)
    body = [i for i in range(n) if i % 10 != 7 and i not in copies
            and len(texts[i].split()) >= 30 and _quality(texts[i].split()) >= 0.55]
    bench = {i: texts[i].split() for i in range(n) if i % 10 == 7
             and i not in copies and len(texts[i].split()) >= 30}
    bench_ids = sorted(bench)
    rows = []
    for b in range(n_warm + n_batches):
        for c, stage in enumerate(["quality", "perplexity", "loop_gate",
                                   "contam_gate", "exact_dedup", "near_dup", ""]):
            for j, d in enumerate(rng.choice(body, per_cohort, replace=False)):
                toks = texts[d].split()
                if stage == "quality":
                    toks = toks[:3]
                elif stage == "perplexity":
                    toks = [f"ng{b}x{j}_{i}" for i in range(1, 41)]
                elif stage == "loop_gate":
                    toks = toks + toks[:10] * 3
                elif stage == "contam_gate":
                    toks = toks + bench[bench_ids[int(rng.integers(len(bench_ids)))]][:30]
                elif stage == "near_dup":
                    toks = toks + [f"lg{b}x{j}_{i}" for i in range(1, 4)]
                elif stage == "":
                    toks = toks[::-1]
                doc_id = (c + 1) * 10**11 + b * 10**6 + j
                rows.append((b, doc_id, " ".join(toks), stage))
    pq.write_table(pa.table({
        "batch": pa.array([r[0] for r in rows], pa.int32()),
        "warm": pa.array([r[0] < n_warm for r in rows]),
        "doc_id": pa.array([r[1] for r in rows], pa.int64()),
        "text": pa.array([r[2] for r in rows]),
        "expected_stage": pa.array([r[3] for r in rows]),
    }), os.path.join(out, "gate_batches.parquet"))

