"""Seeded input generation for the reference-flow benchmark.

Everything the engine reads is produced here:

* a TPC-H-shaped star (orders, lineitem, part, customer; only the columns the
  8-model DAG reads) with planted purchase structure, so the rankers have
  something to find and recall@10 is a stable, non-zero number;
* the four CSV sources the reference stages for bronze ingest (transactions,
  articles, customers, images), derived from the star exactly as
  ``StarDag.transactionsRaw`` / ``articlesRaw`` / ``customersRaw`` /
  ``imagesRaw`` derive them, in a seeded row order;
* an N-fold replica of the star, for bulk-sized inputs, that offsets every
  key of every table (orders, lineitem, part and customer) by the same
  per-copy amount, so the DAG's inner joins keep every copy.
  ``tools/replicate_fixture.py`` in the repository root copies only orders,
  lineitem, embeddings, documents and events; a DAG over its output joins away
  every copy but the first, which is why this generator has its own replica.
* the closed-loop request stream.
"""

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

DAY_US = 86_400_000_000
# o_orderdate spans 1995-01-01 .. 2001-08-01 like the repository's fixtures;
# the DAG keeps customers with >= 5 purchases before 2000-01-01.
FIRST_DAY = 9131   # 1995-01-01 as days since the epoch
LAST_DAY = 11535   # 2001-08-01

BRANDS = [f"Brand#{i}" for i in range(1, 26)]
PTYPES = ["LARGE", "ECONOMY", "SMALL", "MEDIUM", "STANDARD", "PROMO"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD"]


def _zipf_weights(n, a):
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** a
    return w / w.sum()


CLUSTERS = 40
HOME_SHARE = 0.8
RANKERS = ("cooccur", "twotower")
MAX_BATCH = 64
UNKNOWN_SHARE = 0.1


def star(seed, customers, parts, orders):
    """One seeded star schema as dict(name -> pyarrow.Table).

    Each customer has a home cluster of parts and buys from it with
    probability HOME_SHARE (Zipf within the cluster); otherwise the part
    is drawn from a global Zipf popularity. Order dates are uniform over the
    fixture window; lines per order are uniform in 1..7.
    """
    rng = np.random.default_rng(seed)
    cust_home = rng.integers(0, CLUSTERS, customers)
    cust_act = rng.lognormal(0.0, 0.6, customers)
    cust_act /= cust_act.sum()
    part_perm = rng.permutation(parts)           # cluster c = part_perm[c::CLUSTERS]
    cluster_parts = [part_perm[c::CLUSTERS] for c in range(CLUSTERS)]
    global_rank = rng.permutation(parts)         # popularity order

    o_custkey = rng.choice(customers, size=orders, p=cust_act)
    o_day = rng.integers(FIRST_DAY, LAST_DAY + 1, orders)
    n_lines = rng.integers(1, 8, orders)
    l_orderkey = np.repeat(np.arange(orders, dtype=np.int64), n_lines)
    starts = np.cumsum(n_lines) - n_lines
    l_linenumber = (np.arange(l_orderkey.size) - np.repeat(starts, n_lines) + 1).astype(np.int32)
    n_li = l_orderkey.size

    home = rng.random(n_li) < HOME_SHARE
    l_partkey = np.empty(n_li, dtype=np.int64)
    g = ~home
    l_partkey[g] = global_rank[rng.choice(parts, size=int(g.sum()), p=_zipf_weights(parts, 1.0))]
    li_cluster = cust_home[o_custkey[l_orderkey]]
    for c in range(CLUSTERS):
        sel = np.flatnonzero(home & (li_cluster == c))
        members = cluster_parts[c]
        l_partkey[sel] = members[rng.choice(members.size, size=sel.size,
                                            p=_zipf_weights(members.size, 0.8))]
    price = np.round(rng.uniform(900.0, 105000.0, n_li), 2)

    return {
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(orders, dtype=np.int64)),
            "o_custkey": pa.array(o_custkey.astype(np.int64)),
            "o_orderdate": pa.array(o_day.astype(np.int64) * DAY_US, pa.timestamp("us")),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_orderkey),
            "l_partkey": pa.array(l_partkey),
            "l_linenumber": pa.array(l_linenumber),
            "l_extendedprice": pa.array(price),
        }),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(parts, dtype=np.int64)),
            "p_brand": pa.array(np.array(BRANDS, dtype=object)[rng.integers(0, len(BRANDS), parts)]),
            "p_type": pa.array(np.array(PTYPES, dtype=object)[rng.integers(0, len(PTYPES), parts)]),
            "p_size": pa.array(rng.integers(1, 51, parts).astype(np.int32)),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(customers, dtype=np.int64)),
            "c_mktsegment": pa.array(np.array(SEGMENTS, dtype=object)[rng.integers(0, len(SEGMENTS), customers)]),
            "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, customers), 2)),
        }),
    }


KEYS = {"orders": ("o_orderkey", "o_custkey"), "lineitem": ("l_orderkey", "l_partkey"),
        "part": ("p_partkey",), "customer": ("c_custkey",)}


def replicate(base, copies, seed):
    """N-fold FK-consistent replica: copy r adds r * (max key + 1) to every
    order, part and customer key of every table, then the rows of each table
    are put in a seeded order."""
    span = {"order": base["orders"].num_rows, "part": base["part"].num_rows,
            "cust": base["customer"].num_rows}
    kind = {"o_orderkey": "order", "l_orderkey": "order", "o_custkey": "cust",
            "c_custkey": "cust", "l_partkey": "part", "p_partkey": "part"}
    rng = np.random.default_rng([seed, 1])
    out = {}
    for name, t in base.items():
        parts = []
        for r in range(copies):
            cols = {}
            for f in t.schema.names:
                a = t.column(f)
                if f in KEYS[name]:
                    a = pa.array(a.to_numpy() + r * span[kind[f]])
                cols[f] = a
            parts.append(pa.table(cols, schema=t.schema))
        full = pa.concat_tables(parts)
        out[name] = full.take(pa.array(rng.permutation(full.num_rows)))
    return out


def sources(tables, seed):
    """The four CSV-stage sources (StarDag.*Raw), each in a seeded row order."""
    o, li = tables["orders"], tables["lineitem"]
    okey = o.column("o_orderkey").to_numpy()
    pos = np.empty(okey.max() + 1, dtype=np.int64)
    pos[okey] = np.arange(okey.size)
    row = pos[li.column("l_orderkey").to_numpy()]
    t_us = o.column("o_orderdate").cast(pa.int64()).to_numpy()[row]
    part, cust = tables["part"], tables["customer"]
    pk = part.column("p_partkey").to_numpy()
    even = pk % 2 == 0
    srcs = {
        "transactions": pa.table({
            "customer_id": pa.array(o.column("o_custkey").to_numpy()[row]),
            "article_id": li.column("l_partkey"),
            "price": li.column("l_extendedprice"),
            "sales_channel_id": li.column("l_linenumber"),
            "t_dat_us": pa.array(t_us),
        }),
        "articles": pa.table({
            "article_id": part.column("p_partkey"), "brand": part.column("p_brand"),
            "ptype": part.column("p_type"), "psize": part.column("p_size"),
        }),
        "customers": pa.table({
            "customer_id": cust.column("c_custkey"),
            "mktsegment": cust.column("c_mktsegment"),
            "acctbal": cust.column("c_acctbal"),
        }),
        "images": pa.table({
            "article_id": pa.array(pk[even]),
            "s3_url": pa.array([f"https://img.example.com/{k}.jpg" for k in pk[even]]),
        }),
    }
    rng = np.random.default_rng([seed, 2])
    return {n: t.take(pa.array(rng.permutation(t.num_rows))) for n, t in srcs.items()}


def write(tables, srcs, root):
    """Star as parquet (the oracle's input), sources as quote-all CSV with a
    header (the reference's staged upload shape), one directory per source."""
    os.makedirs(os.path.join(root, "star"), exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(root, "star", f"{name}.parquet"))
    opts = pacsv.WriteOptions(quoting_style="all_valid")
    for name, t in srcs.items():
        d = os.path.join(root, "csv", name)
        os.makedirs(d, exist_ok=True)
        pacsv.write_csv(t, os.path.join(d, "part-0.csv"), opts)


def request_block(seed, trained, unknown, size, zipf_a):
    """A block of closed-loop requests, each (ranker, user ids).

    The rankers take equal shares of the block; the batch size is uniform in
    1..MAX_BATCH; each id is, with probability UNKNOWN_SHARE, one of
    ``unknown`` (ids no model was trained on) and otherwise a trained user
    drawn with Zipf exponent ``zipf_a`` over a seeded popularity order (0 is
    uniform). Ids within one request are distinct."""
    rng = np.random.default_rng([seed, 3])
    trained = np.asarray(sorted(trained), dtype=np.int64)
    unknown = np.asarray(sorted(unknown), dtype=np.int64)
    order = trained[rng.permutation(trained.size)]
    w = _zipf_weights(order.size, zipf_a)
    out = []
    for i in range(size):
        n = int(rng.integers(1, MAX_BATCH + 1))
        unk = rng.random(n) < UNKNOWN_SHARE
        ids = np.where(unk, unknown[rng.integers(0, unknown.size, n)],
                       order[rng.choice(order.size, size=n, p=w)])
        out.append((RANKERS[i % len(RANKERS)], [int(x) for x in dict.fromkeys(ids.tolist())]))
    return out


def request_stream(block, seed, passes):
    """``passes`` copies of the block, each in its own seeded order."""
    rng = np.random.default_rng([seed, 4])
    return [block[i] for _ in range(passes) for i in rng.permutation(len(block))]


def write_requests(reqs, path):
    with open(path, "w", newline="") as f:
        w = csv.writer(f, delimiter="\t")
        for ranker, ids in reqs:
            w.writerow([ranker, ",".join(map(str, ids))])
