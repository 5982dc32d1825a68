"""Seeded input generator for the graft benchmark.

Every input a workload reads is made here from the benchmark seed; the
program under test receives only the files this module writes.

  tables(seed, out)    the ten parquet tables the registry queries read
                       (TPC-H-like star schema plus events, documents and
                       embeddings), at the smallest test scale
  landing(seed, out)   a reference-layout JSONL landing for the daily
                       lifecycle: customers x query names x days, skewed
                       rows per partition, late restatements inside the
                       lookback window; returns the manifest of what landed
  batches(seed, out)   the micro-batch sequence the streaming workload
                       pushes, one JSONL file per batch

The same seed gives byte-identical files; see tests/test_gen.py.

Usage: python3 gen.py {tables|landing|batches} <seed> <out_dir>
"""
import datetime as dt
import json
import math
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# Landing shape (lifecycle)
SOURCE = "ads"
CUSTOMERS = 4
QUERY_NAMES = ("campaign_perf", "campaign_geo")
LANDING_DAYS = 16
LOOKBACK_DAYS = 3
RESTATE_P = 0.12
FIRST_DAY = dt.date(2024, 3, 1)

# Stream shape (streaming)
STREAM_BATCHES = LANDING_DAYS
STREAM_BATCH_ROWS = 2000

_WORDS = ("the a key agg row scan slow fast table value part hash merge batch "
          "spark line sort window order data column join query customer small "
          "big filter group stream vector").split()
_COLORS = ("red blue green small large shiny matte dark light pale").split()
_NOUNS = ("ring widget bolt gear spring panel valve plate tube clip").split()


def _ts(d):
    return dt.datetime(d.year, d.month, d.day)


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def tables(seed, out):
    """Write the ten registry input tables under `out` (one parquet each)."""
    r = random.Random(f"tables:{seed}")
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part, n_ord, n_line = 150, 10, 200, 1500, 6000
    n_events, n_docs, n_vecs, n_users = 1000, 500, 500, 15

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    }), f"{out}/nation.parquet")
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    _write(pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array([r.randrange(25) for _ in range(n_cust)], pa.int32()),
        "c_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_cust)],
        "c_mktsegment": [r.choice(segs) for _ in range(n_cust)],
    }), f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array([r.randrange(25) for _ in range(n_supp)], pa.int32()),
        "s_acctbal": [round(r.uniform(-999.99, 9999.99), 2) for _ in range(n_supp)],
    }), f"{out}/supplier.parquet")
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    _write(pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{r.choice(_COLORS)} {r.choice(_NOUNS)}" for _ in range(n_part)],
        "p_brand": [f"Brand#{r.randint(1, 25)}" for _ in range(n_part)],
        "p_type": [r.choice(types) for _ in range(n_part)],
        "p_size": pa.array([r.randint(1, 50) for _ in range(n_part)], pa.int32()),
        "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n_part)],
    }), f"{out}/part.parquet")
    d0, span = dt.date(1995, 1, 1), (dt.date(2001, 8, 1) - dt.date(1995, 1, 1)).days
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    _write(pa.table({
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array([r.randrange(n_cust) for _ in range(n_ord)], pa.int64()),
        "o_orderstatus": [r.choice("FOP") for _ in range(n_ord)],
        "o_totalprice": [round(r.uniform(1000, 500000), 2) for _ in range(n_ord)],
        "o_orderdate": pa.array(
            [_ts(d0 + dt.timedelta(days=r.randrange(span))) for _ in range(n_ord)],
            pa.timestamp("us")),
        "o_orderpriority": [r.choice(prios) for _ in range(n_ord)],
    }), f"{out}/orders.parquet")
    _write(pa.table({
        "l_orderkey": pa.array([r.randrange(n_ord) for _ in range(n_line)], pa.int64()),
        "l_partkey": pa.array([r.randrange(n_part) for _ in range(n_line)], pa.int64()),
        "l_suppkey": pa.array([r.randrange(n_supp) for _ in range(n_line)], pa.int64()),
        "l_linenumber": pa.array([r.randint(1, 7) for _ in range(n_line)], pa.int32()),
        "l_quantity": [float(r.randint(1, 50)) for _ in range(n_line)],
        "l_extendedprice": [round(r.uniform(900, 105000), 2) for _ in range(n_line)],
        "l_discount": [r.randint(0, 10) / 100 for _ in range(n_line)],
        "l_tax": [r.randint(0, 8) / 100 for _ in range(n_line)],
        "l_returnflag": [r.choice("ANR") for _ in range(n_line)],
        "l_linestatus": [r.choice("FO") for _ in range(n_line)],
        "l_shipdate": pa.array(
            [_ts(d0 + dt.timedelta(days=1 + r.randrange(span + 95))) for _ in range(n_line)],
            pa.timestamp("us")),
    }), f"{out}/lineitem.parquet")
    t0, secs = dt.datetime(2024, 1, 1), sorted(r.uniform(0, 30 * 86400) for _ in range(n_events))
    ev_types = ["click", "error", "purchase", "signup", "view"]
    _write(pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array([t0 + dt.timedelta(microseconds=int(s * 1e6)) for s in secs],
                       pa.timestamp("us")),
        "user_id": pa.array([r.randrange(n_users) for _ in range(n_events)], pa.int64()),
        "event_type": [r.choice(ev_types) for _ in range(n_events)],
        "value": [round(r.expovariate(1 / 40) + 0.01, 2) for _ in range(n_events)],
        "props": [json.dumps({"k": r.randrange(100)}) for _ in range(n_events)],
    }), f"{out}/events.parquet")
    # Documents: random prose over a small vocabulary; about one in ten
    # is a near-duplicate of an earlier document (a trailing edit), so
    # the dedup and clustering loops have clusters to find.
    texts = []
    for i in range(n_docs):
        if i > 20 and r.random() < 0.1:
            texts.append(texts[r.randrange(i)] + " dup" * r.randint(1, 2))
        else:
            texts.append(" ".join(r.choice(_WORDS) for _ in range(r.randint(10, 99))))
    langs = ["en"] * 8 + ["de", "es", "fr", "zh"] * 2
    _write(pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [r.choice(langs) for _ in range(n_docs)],
        "source": [f"src{r.randrange(20)}" for _ in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")
    # Embeddings: unit vectors scattered around one centroid per label.
    dim = 64
    centroids = [[r.gauss(0, 1) for _ in range(dim)] for _ in range(10)]
    vecs, labels = [], []
    for _ in range(n_vecs):
        lab = r.randrange(10)
        v = [c + r.gauss(0, 0.8) for c in centroids[lab]]
        norm = math.sqrt(sum(x * x for x in v))
        vecs.append([x / norm for x in v])
        labels.append(lab)
    _write(pa.table({
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array(vecs, pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    }), f"{out}/embeddings.parquet")


def run_id(day):
    """Landing run id of day `day`: RunContext's ISO-8601 millisecond form."""
    return f"{day.isoformat()}T06:00:00.000Z"


def _partition_rows(r, query, run):
    # Skewed partition sizes: a Pareto tail over a floor of 8 rows.
    n = min(400, int(8 + 12 * r.paretovariate(1.3)))
    rows = []
    for i in range(n):
        rows.append({
            "__query_name": query,
            "row_id": f"{run}/{i}",
            "campaign_id": f"cmp_{r.randrange(6)}",
            "impressions": str(r.randint(0, 5000)),
            "clicks": str(r.randint(0, 300)),
            "conversions": f"{r.randint(0, 400000) / 10000:.4f}",
            "cost_micros": str(r.randint(0, 50_000_000)),
        })
    return rows


def landing(seed, out, days=LANDING_DAYS):
    """Write the JSONL landing under `out` and return its manifest.

    Day t lands one run (run id `run_id(t)`) holding the new logical date
    t for every (customer, query name), plus a seeded set of
    restatements: partitions of the previous LOOKBACK_DAYS dates landed
    again with new rows. The manifest lists, per day, every partition
    that landed and its row count, flagged `restated` when it replaces
    an earlier landing.
    """
    r = random.Random(f"landing:{seed}")
    customers = [f"{r.randrange(10**6, 10**7):07d}" for _ in range(CUSTOMERS)]
    manifest = {"source": SOURCE, "lookback_days": LOOKBACK_DAYS,
                "customers": customers, "query_names": list(QUERY_NAMES), "days": []}
    for t in range(days):
        day = FIRST_DAY + dt.timedelta(days=t)
        run = run_id(day)
        parts = []
        for back in range(min(t, LOOKBACK_DAYS), -1, -1):
            logical = day - dt.timedelta(days=back)
            for cust in customers:
                for q in QUERY_NAMES:
                    if back > 0 and r.random() >= RESTATE_P:
                        continue
                    rows = _partition_rows(r, q, run)
                    d = (f"{out}/source={SOURCE}/customer_id={cust}/query_name={q}"
                         f"/logical_date={logical.isoformat()}/run_id={run}")
                    os.makedirs(d, exist_ok=True)
                    with open(f"{d}/part-00000.jsonl", "w", encoding="utf-8") as f:
                        for row in rows:
                            f.write(json.dumps(row, sort_keys=True) + "\n")
                    seal = {"customer_id": cust, "logical_date": logical.isoformat(),
                            "query_name": q, "record_count": len(rows), "run_id": run,
                            "schema_version": "v1", "source": SOURCE}
                    with open(f"{d}/_SEAL.json", "w", encoding="utf-8") as f:
                        f.write(json.dumps(seal, sort_keys=True))
                    parts.append({"customer_id": cust, "query_name": q,
                                  "logical_date": logical.isoformat(), "rows": len(rows),
                                  "restated": back > 0})
        manifest["days"].append({"day": day.isoformat(), "run_id": run, "partitions": parts})
    with open(f"{out}/_manifest.json", "w", encoding="utf-8") as f:
        json.dump(manifest, f, sort_keys=True, indent=1)
    return manifest


def batches(seed, out, n=STREAM_BATCHES, rows=STREAM_BATCH_ROWS):
    """Write `n` micro-batches of `rows` keyed records as out/batch_NNNNN.jsonl.

    Records arrive roughly in event-date order: batch b covers the two
    logical dates around day b // 4, over every customer and query name.
    """
    r = random.Random(f"batches:{seed}")
    customers = [f"{r.randrange(10**6, 10**7):07d}" for _ in range(CUSTOMERS)]
    os.makedirs(out, exist_ok=True)
    for b in range(n):
        base = FIRST_DAY + dt.timedelta(days=b // 4)
        with open(f"{out}/batch_{b:05d}.jsonl", "w", encoding="utf-8") as f:
            for i in range(rows):
                rec = {
                    "source": SOURCE,
                    "customer_id": r.choice(customers),
                    "query_name": r.choice(QUERY_NAMES),
                    "logical_date": (base + dt.timedelta(days=r.randrange(2))).isoformat(),
                    "event_id": f"{b}-{i}",
                    "campaign_id": f"cmp_{r.randrange(6)}",
                    "value": f"{r.expovariate(1 / 40):.4f}",
                }
                f.write(json.dumps(rec, sort_keys=True) + "\n")


def main(argv):
    kind, seed, out = argv[1], int(argv[2]), argv[3]
    {"tables": tables, "landing": landing, "batches": batches}[kind](seed, out)


if __name__ == "__main__":
    main(sys.argv)
