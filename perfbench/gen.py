"""Seeded input generators for the benchmark.

Everything the program under test reads is made here from the run's seed:

* `write_tables` — the ten star-schema, event, document and embedding
  tables that `SparkEntry.queries` reads, at a given scale factor, with
  the column types and value domains of the repository's test fixtures
  (FIXTURES.md §2).
* `write_ann` — a clustered, L2-normalized 512-d corpus (BioCLIP's
  width), a Zipf-skewed query pool, append batches with a fixed share of
  already-stored ids, queries near each batch's fresh rows, and exact
  top-10 ground truth computed here with a plain matrix product,
  independent of graft's own `Knn`.

Vectors are Parquet (`vec_id`, `embedding`); query vectors and ground
truth are little-endian float32 / int64 blobs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TOP_K = 10


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def write_tables(out, sf, seed):
    """The query suite's ten tables at scale factor `sf`."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_evt = max(1000, int(1_000_000 * sf))
    n_users = max(15, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": regions}), f"{out}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        f"{out}/nation.parquet")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n_cust),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)]}),
        f"{out}/customer.parquet")
    _write(pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n_supp)}),
        f"{out}/supplier.parquet")

    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    names = np.array([f"{a} {n}" for a in adjectives for n in nouns])
    ptypes = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                       "STANDARD"])
    pkeys = np.arange(n_part)
    _write(pa.table({
        "p_partkey": pa.array(pkeys, pa.int64()),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": ptypes[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 1)}),
        f"{out}/part.parquet")

    def days(start, span, n):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, n).astype("timedelta64[D]")

    _write(pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": money(1000.0, 500000.0, n_ord),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n_ord),
                                pa.timestamp("us")),
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, n_ord)]}),
        f"{out}/orders.parquet")

    # Poisson(4) lines per order (some orders have none), shuffled
    per_order = rng.poisson(4.0, n_ord)
    okeys = np.repeat(np.arange(n_ord), per_order)
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    linenos = np.arange(len(okeys)) - starts + 1
    n_line = len(okeys)
    perm = rng.permutation(n_line)
    _write(pa.table({
        "l_orderkey": pa.array(okeys[perm], pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(linenos[perm], pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, n_line),
                               pa.timestamp("us"))}),
        f"{out}/lineitem.parquet")

    # events: increasing microsecond timestamps over ~30 days
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype(
        "timedelta64[us]")
    _write(pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_evt), pa.int64()),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_evt)],
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_evt), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out}/events.parquet")

    # documents: 10-99 tokens from a small vocabulary; 5% are near-dups
    # (an earlier document plus a trailing "dup" token)
    vocab = np.array(
        "a agg batch big column customer data fast filter group hash join "
        "key line merge order part query row scan slow small sort spark "
        "stream table the value vector window".split())
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), n)]))
    langs = np.array(["de", "en", "es", "fr", "zh"])
    lang = langs[rng.choice(5, n_docs, p=[0.145, 0.42, 0.145, 0.145, 0.145])]
    _write(pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")

    labels = rng.integers(0, 10, n_emb)
    centers = rng.standard_normal((10, 64))
    emb = rng.standard_normal((n_emb, 64)) + 0.05 * centers[labels]
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    _write(pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")


def _unit(x):
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def _vectors_table(ids, vecs):
    flat = pa.array(vecs.reshape(-1), pa.float32())
    lists = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1]), pa.int32()), flat)
    return pa.table({"vec_id": pa.array(ids, pa.int64()), "embedding": lists})


def exact_topk(queries, corpus, ids, k=TOP_K):
    """Exact inner-product top-k by brute force: (ids, scores) per query,
    ties broken by the lower id like the program's search. Candidates come
    from a float32 product; their order from float64 rescoring."""
    c = min(k + 8, len(ids))
    part = np.argpartition(-(queries @ corpus.T), c - 1, axis=1)[:, :c]
    sc = np.einsum("qd,qcd->qc", queries.astype(np.float64),
                   corpus[part].astype(np.float64))
    return _order(ids[part], sc, k)


def _order(ids, sc, k):
    order = np.lexsort((ids, -sc), axis=1)[:, :k]
    return (np.take_along_axis(ids, order, 1),
            np.take_along_axis(sc, order, 1))


def write_ann(out, seed, spec):
    """Clustered corpus, Zipf query stream, append batches, ground truth.

    The corpus has `nlist` clusters in `super_clusters` families of
    similar clusters, so a query's nearest partitions are its family's
    (probe sets of similar queries overlap, as with real embeddings).
    Cached-search queries are Zipf(`zipf_s`) draws over the families in a
    seeded popularity order, stratified per cycle, with ground truth over
    the corpus the serving snapshot holds. Each append batch also comes with
    `pruned_per_cycle` queries near its fresh rows, with ground truth over
    every row stored once that batch is appended, so a search of the
    grown layout must see what was just written.
    Returns the scalar facts the benchmark needs about the inputs.
    """
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    dim, n, c, g = spec["dim"], spec["n"], spec["nlist"], spec["super_clusters"]
    groups = _unit(rng.standard_normal((g, dim)))
    centers = _unit(groups[np.arange(c) % g] +
                    0.5 * rng.standard_normal((c, dim)) / np.sqrt(dim))

    def draw(cluster_ids):
        noise = rng.standard_normal((len(cluster_ids), dim)) * spec["spread"]
        return _unit(centers[cluster_ids] + noise / np.sqrt(dim))

    corpus = draw(rng.permutation(np.arange(n) % c))
    ids = np.arange(n, dtype=np.int64)
    _write(_vectors_table(ids, corpus), f"{out}/corpus.parquet")

    # Zipf draws over the families in a seeded popularity order, stratified
    # per block of requests (one uniform per equal slice of probability,
    # then shuffled): every draw is Zipf-distributed, and a family's count
    # in a cycle is within one of its expectation, so a run's cache hit
    # rate is not a property of its seed's luck
    popularity = 1.0 / np.arange(1, g + 1) ** spec["zipf_s"]
    cdf = np.cumsum(popularity / popularity.sum())
    ranked = rng.permutation(g)

    def zipf_block(m):
        u = (np.arange(m) + rng.random(m)) / m
        return ranked[np.minimum(np.searchsorted(cdf, u), g - 1)][
            rng.permutation(m)]

    blocks = [zipf_block(spec["warmup_searches"])]
    while sum(len(b) for b in blocks) < spec["queries"]:
        blocks.append(zipf_block(spec["searches_per_cycle"]))
    families = np.concatenate(blocks)[:spec["queries"]]
    queries = draw(families + g * rng.integers(0, c // g, spec["queries"]))
    queries.tofile(f"{out}/queries.f32")
    exact_topk(queries, corpus, ids)[0].tofile(f"{out}/truth_ids.i64")

    # append batches: fresh ids continue the id space; a fixed share of
    # each batch re-offers ids that are already stored
    rows, dups = spec["batch_rows"], round(spec["batch_rows"] * spec["dup_share"])
    fresh, per = rows - dups, spec["pruned_per_cycle"]
    stored_ids, stored_vecs = ids, corpus
    pruned_q, pruned_t = [], []
    for b in range(spec["batches"]):
        new_vecs = draw(rng.integers(0, c, fresh))
        new_ids = np.arange(n + b * fresh, n + (b + 1) * fresh, dtype=np.int64)
        pick = rng.choice(len(stored_ids), dups, replace=False)
        order = rng.permutation(rows)
        os.makedirs(f"{out}/batch_{b:03d}", exist_ok=True)
        _write(_vectors_table(
            np.concatenate([new_ids, stored_ids[pick]])[order],
            np.concatenate([new_vecs, stored_vecs[pick]])[order]),
            f"{out}/batch_{b:03d}/part-0.parquet")
        stored_ids = np.concatenate([stored_ids, new_ids])
        stored_vecs = np.concatenate([stored_vecs, new_vecs])
        near = new_vecs[rng.choice(fresh, per, replace=False)]
        q = _unit(near + rng.standard_normal(near.shape) * spec["spread"] /
                  np.sqrt(dim))
        pruned_q.append(q)
        pruned_t.append(exact_topk(q, stored_vecs, stored_ids)[0])
    np.concatenate(pruned_q).tofile(f"{out}/pruned_queries.f32")
    np.concatenate(pruned_t).tofile(f"{out}/pruned_truth_ids.i64")
    return {"n": n, "queries": spec["queries"], "batch_fresh": fresh}
