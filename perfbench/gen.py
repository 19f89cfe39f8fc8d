"""Seeded input generator for the perfbench workloads.

Every input, and every expected answer the checks compare against, is a
pure function of (workload, seed). The tables copy the schema and the
marginal distributions of the repository's sf1 generator (orders ->
Poisson(4) lineitems, quantity U{1..50}, shipdate = U(orderdate range) +
U{1..95} days, ...); only the scale and the seed differ.

Layout of one generated input directory:

  mare_pipe     corpus/part-*.sdf   SDF-style records split by "\\n$$$$\\n"
                expected.txt        top-k (score, id) of the awk scorer
  query_deck    tables/<t>.parquet  the ten tables graft.sources.Tables reads
  index_serve   batches/b*.parquet  lineitem admit batches (disjoint orders)
                ops.tsv             the seeded serve schedule, in blocks,
                                    with the expected answer of every read
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_US = 86400_000_000
OD_LO = np.datetime64("1995-01-01", "us").astype("int64")
OD_HI = np.datetime64("2001-08-01", "us").astype("int64")
O_DAYS = (OD_HI - OD_LO) // DAY_US

# query_deck scale, as a multiple of sf1 (sf1 lineitem ~6M rows)
DECK_SF = 0.02
DECK_DOCS = 120
DECK_EVENTS = 5000
# mare_pipe corpus
PIPE_MOLECULES = 24000
PIPE_FILES = 16
PIPE_TOP_K = 25
PIPE_WEIGHTS = [0, 12, 14, 16, 32, 19, 35, 80, 127]  # element id -> weight
# index_serve: stores built from SERVE_BATCHES admits of SERVE_ORDERS orders
SERVE_BATCHES = 2
SERVE_ORDERS = 6000


def write(path, table):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return table.num_rows


def lineitem_for(rng, orderkeys):
    """Lineitem rows for `orderkeys` (gen_sf1 distributions): Poisson(4)
    lines per order, zero-line orders dropped."""
    nlines = rng.poisson(4.0, orderkeys.size)
    okeys = np.repeat(orderkeys, nlines)
    n = okeys.size
    lineno = (np.arange(n) - np.repeat(np.cumsum(nlines) - nlines, nlines) + 1)
    qty = rng.integers(1, 51, n).astype(np.float64)
    shipdate = (OD_LO + rng.integers(0, O_DAYS + 1, n) * DAY_US
                + rng.integers(1, 96, n) * DAY_US)
    return pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 200000, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 10000, n), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n), 2),
        "l_discount": np.round(rng.integers(0, 11, n) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n) * 0.01, 2),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(shipdate, pa.timestamp("us")),
    })


# ── mare_pipe ────────────────────────────────────────────────────────────

def gen_mare_pipe(rng, out):
    """SDF-style molecules: a name line, a comment, 6-14 atom lines
    `A <element> <x> <y> <z>`, a fixed-width property block, `M  END`.
    The scorer (see Workloads.scala) sums weight(element) * (|x| + 2|y| +
    3|z|) over atom lines; the expected top-k is computed here."""
    os.makedirs(f"{out}/corpus", exist_ok=True)
    n = PIPE_MOLECULES
    n_atoms = rng.integers(6, 15, n)
    elems = rng.integers(1, len(PIPE_WEIGHTS), n_atoms.sum())
    xyz = rng.integers(-999, 1000, (n_atoms.sum(), 3))
    w = np.array(PIPE_WEIGHTS)[elems]
    contrib = w * (np.abs(xyz[:, 0]) + 2 * np.abs(xyz[:, 1]) + 3 * np.abs(xyz[:, 2]))
    starts = np.concatenate([[0], np.cumsum(n_atoms)[:-1]])
    scores = np.add.reduceat(contrib, starts)
    props = rng.integers(0, 10 ** 8, (n, 4))
    recs = []
    for i in range(n):
        a, b = starts[i], starts[i] + n_atoms[i]
        atoms = "\n".join(f"A {e} {x} {y} {z}"
                          for e, (x, y, z) in zip(elems[a:b], xyz[a:b]))
        p = props[i]
        recs.append(
            f"MOL_{i:07d}\n  perfbench seeded molecule\n{atoms}\n"
            f"> <PROPS>\n{p[0]:08d} {p[1]:08d} {p[2]:08d} {p[3]:08d}\nM  END")
    nbytes = 0
    per = -(-n // PIPE_FILES)
    for f in range(PIPE_FILES):
        chunk = recs[f * per:(f + 1) * per]
        body = "".join(r + "\n$$$$\n" for r in chunk)
        with open(f"{out}/corpus/part-{f:03d}.sdf", "w") as fh:
            fh.write(body)
        nbytes += len(body.encode())
    order = sorted(range(n), key=lambda i: (-int(scores[i]), f"MOL_{i:07d}"))
    top = [f"{int(scores[i])}\tMOL_{i:07d}" for i in order[:PIPE_TOP_K]]
    with open(f"{out}/expected.txt", "w") as fh:
        fh.write("".join(t + "\n" for t in top))
    return {"molecules": n, "files": PIPE_FILES, "bytes": nbytes,
            "top_k": PIPE_TOP_K}


# ── query_deck ───────────────────────────────────────────────────────────

def gen_tables(rng, out, sf):
    """The ten tables at `sf` (x sf1 cardinalities), gen_sf1 distributions."""
    t = f"{out}/tables"
    n_cust, n_supp, n_part = int(150000 * sf), int(10000 * sf), int(200000 * sf)
    n_orders, n_users = int(1500000 * sf), int(15000 * sf)
    # the dedup oracles compare every pair of documents, so documents stay
    # small and the per-run DuckDB check within seconds; events are cut in
    # step, since no query of the deck reads them
    n_docs, n_events, n_emb = DECK_DOCS, DECK_EVENTS, int(20000 * sf)
    rows = {}
    rows["region"] = write(f"{t}/region.parquet", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}))
    rows["nation"] = write(f"{t}/nation.parquet", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))
    segs = ["MACHINERY", "HOUSEHOLD", "AUTOMOBILE", "BUILDING", "FURNITURE"]
    rows["customer"] = write(f"{t}/customer.parquet", pa.table({
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-1000, 10000, n_cust), 2),
        "c_mktsegment": pa.array(np.array(segs)[rng.integers(0, 5, n_cust)])}))
    rows["supplier"] = write(f"{t}/supplier.parquet", pa.table({
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-1000, 10000, n_supp), 2)}))
    adjs = ["large", "hot", "blue", "small", "dark", "cold", "light", "round"]
    nouns = ["ring", "bolt", "cog", "gear", "tube", "disk", "plate", "rod"]
    ptypes = ["SMALL", "ECONOMY", "LARGE", "STANDARD", "MEDIUM", "PROMO"]
    pa_i, pn_i = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    rows["part"] = write(f"{t}/part.parquet", pa.table({
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adjs[a]} {nouns[b]}" for a, b in zip(pa_i, pn_i)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": pa.array(np.array(ptypes)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(rng.uniform(900, 1000, n_part), 2)}))
    orderdate = OD_LO + rng.integers(0, O_DAYS + 1, n_orders) * DAY_US
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    rows["orders"] = write(f"{t}/orders.parquet", pa.table({
        "o_orderkey": pa.array(range(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": pa.array(np.array(["O", "P", "F"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_orders), 2),
        "o_orderdate": pa.array(orderdate, pa.timestamp("us")),
        "o_orderpriority": pa.array(np.array(prios)[rng.integers(0, 5, n_orders)])}))
    li = lineitem_for(rng, np.arange(n_orders, dtype=np.int64))
    # part/supplier keys must land inside this scale's dimension tables
    li = li.set_column(1, "l_partkey",
                       pa.array(rng.integers(0, n_part, li.num_rows), pa.int64()))
    li = li.set_column(2, "l_suppkey",
                       pa.array(rng.integers(0, n_supp, li.num_rows), pa.int64()))
    rows["lineitem"] = write(f"{t}/lineitem.parquet", li)
    ev_lo = np.datetime64("2024-01-01", "us").astype("int64")
    ev_hi = np.datetime64("2024-01-31", "us").astype("int64")
    etypes = ["click", "view", "purchase", "signup", "error"]
    ks = rng.integers(0, 100, n_events)
    rows["events"] = write(f"{t}/events.parquet", pa.table({
        "event_id": pa.array(range(n_events), pa.int64()),
        "ts": pa.array(rng.integers(ev_lo, ev_hi, n_events), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(np.array(etypes)[rng.integers(0, 5, n_events)]),
        "value": rng.exponential(50.0, n_events),
        "props": [f'{{"k": {k}}}' for k in ks]}))
    vocab = np.array("""a agg batch big column customer data dup fast filter group
    hash join key line merge order part query row scan slow small sort spark
    stream table the value vector window""".split())
    langs = np.array(["en", "fr", "de", "zh", "es"])
    lang_w = np.array([0.4, 0.15, 0.15, 0.15, 0.15])
    doc_lens = rng.integers(10, 100, n_docs)
    texts = [" ".join(vocab[rng.integers(0, vocab.size, k)]) for k in doc_lens]
    n_dups = max(int(n_docs * 0.0016), 4)  # a few even in a small corpus
    for i in rng.choice(np.arange(1, n_docs), size=n_dups, replace=False):
        texts[i] = texts[rng.integers(0, i)]
    rows["documents"] = write(f"{t}/documents.parquet", pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": pa.array(langs[rng.choice(5, n_docs, p=lang_w)]),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64())}))
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    rows["embeddings"] = write(f"{t}/embeddings.parquet", pa.table({
        "vec_id": pa.array(range(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32())}))
    nbytes = sum(os.path.getsize(f"{t}/{k}.parquet") for k in rows)
    return rows, nbytes


def gen_query_deck(rng, out):
    rows, nbytes = gen_tables(rng, out, DECK_SF)
    return {"sf": DECK_SF, "rows": rows, "bytes": nbytes}


# ── index_serve ───────────────────────────────────────────────────────

# The serve traffic copies the two serve probes of graft.Bench (Bench.scala,
# "serve-path lookup latency" and "zone-aggregate serve latency"): a round
# is 32 point lookups, one batch lookup of the same 32 keys, and 8 one-month
# l_shipdate windows, each probed by every zone read face.
ROUND_KEYS = 32
ROUND_MONTHS = 8
ZONE_FACES = ("count", "minmax", "sum", "range")
SERVE_ROUNDS = 20  # rounds generated; a run uses a prefix
# key popularity: YCSB's scrambled Zipfian request distribution and its
# default constant (Cooper et al., "Benchmarking Cloud Serving Systems with
# YCSB", SoCC 2010)
ZIPF_CONSTANT = 0.99


def range_answer(ship_us, qty, lo_us, hi_us):
    m = (ship_us >= lo_us) & (ship_us < hi_us)
    q = qty[m]
    return (int(m.sum()), float(q.min()) if q.size else None,
            float(q.max()) if q.size else None, float(q.sum()))


def fmt_opt(v):
    return "null" if v is None else repr(v)


def month_us(m):
    """Epoch microseconds of the first instant of month `m` (datetime64[M])."""
    return int(m.astype("datetime64[us]").astype("int64"))


def gen_index_serve(rng, out):
    """SERVE_BATCHES admit batches of disjoint order ranges, plus the serve
    schedule: SERVE_ROUNDS rounds, each split into ROUND_MONTHS blocks.
    Block j of a round holds 4 point lookups and one probe of month j by
    each zone face (count, min-max, sum, range lookup); the first block
    also holds the batch lookup of the round's 32 keys, so that a run
    shorter than a round still has one. Keys are drawn with
    replacement from the present orders by a Zipfian of constant
    ZIPF_CONSTANT over a seeded rank order; a round's months are 8
    consecutive calendar months at a seeded start. Each line is
    `block, op, args..., expected answer`."""
    ships, qtys, counts = [], [], {}
    nbytes = nrows = 0
    for b in range(SERVE_BATCHES):
        keys = np.arange(b * SERVE_ORDERS, (b + 1) * SERVE_ORDERS, dtype=np.int64)
        li = lineitem_for(rng, keys)
        nrows += write(f"{out}/batches/b{b:03d}.parquet", li)
        nbytes += os.path.getsize(f"{out}/batches/b{b:03d}.parquet")
        ok = li.column("l_orderkey").to_numpy()
        u, c = np.unique(ok, return_counts=True)
        counts.update(zip(u.tolist(), c.tolist()))
        ships.append(li.column("l_shipdate").cast(pa.int64()).to_numpy())
        qtys.append(li.column("l_quantity").to_numpy())
    ship, qty = np.concatenate(ships), np.concatenate(qtys)
    present = np.array(sorted(counts), dtype=np.int64)
    by_rank = present[rng.permutation(present.size)]  # Zipf rank -> order key
    popularity = 1.0 / np.arange(1, present.size + 1) ** ZIPF_CONSTANT
    popularity /= popularity.sum()
    first = np.datetime64(int(ship.min()), "us").astype("datetime64[M]") + 1
    last = np.datetime64(int(ship.max()), "us").astype("datetime64[M]")
    n_starts = int((last - first).astype(int)) - ROUND_MONTHS + 1

    lines = []
    per_block = ROUND_KEYS // ROUND_MONTHS
    for r in range(SERVE_ROUNDS):
        keys = by_rank[rng.choice(present.size, ROUND_KEYS, p=popularity)].tolist()
        start = first + int(rng.integers(0, n_starts))
        lines.append(f"{r * ROUND_MONTHS}\tbatch\t" + ",".join(map(str, keys)) + "\t"
                     + str(sum(counts[k] for k in set(keys))))
        for j in range(ROUND_MONTHS):
            block = r * ROUND_MONTHS + j
            lines += [f"{block}\tlookup\t{k}\t{counts[k]}"
                      for k in keys[j * per_block:(j + 1) * per_block]]
            lo, hi = month_us(start + j), month_us(start + j + 1)
            n, mn, mx, sm = range_answer(ship, qty, lo, hi)
            lines += [f"{block}\t{face}\t{lo}\t{hi}\t{n}\t{fmt_opt(mn)}\t"
                      f"{fmt_opt(mx)}\t{sm!r}" for face in ZONE_FACES]
    with open(f"{out}/ops.tsv", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {"batches": SERVE_BATCHES, "rows": nrows, "bytes": nbytes,
            "orders": int(present.size), "rounds": SERVE_ROUNDS,
            "blocks": SERVE_ROUNDS * ROUND_MONTHS}


GENERATORS = {
    "mare_pipe": gen_mare_pipe,
    "query_deck": gen_query_deck,
    "index_serve": gen_index_serve,
}


def generate(workload, seed, out):
    """Generate `workload`'s inputs for `seed` into `out`; returns sizes."""
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    sizes = GENERATORS[workload](rng, out)
    with open(f"{out}/sizes.json", "w") as fh:
        json.dump(sizes, fh)
    return sizes
