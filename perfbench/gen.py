"""Seeded inputs for the benchmark, drawn from the committed sf0.1 extract
(`data/`, made by `extract.py`). The same seed and sizes give the same
inputs; the engine sees only the files written here.

The values and keys are the test data's own. What the seed chooses is which
customers, documents, embeddings and orders a run gets, and, for the refresh
workload, which earlier orders a change batch updates or deletes.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EXTRACT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
# keys of rows that break an expectation; above every test-data order key
BAD_KEY0 = 1_000_000_000


def extract(name):
    path = os.path.join(EXTRACT, f"{name}.parquet")
    if not os.path.exists(path):
        raise SystemExit(f"perfbench: input extract {path} is missing (see extract.py)")
    return pq.read_table(path)


def _sample(rng, t, n, key):
    """`n` rows of `t` chosen by `rng`, in key order."""
    idx = np.sort(rng.choice(t.num_rows, min(n, t.num_rows), replace=False))
    return t.take(pa.array(idx)).sort_by(key)


def _isin(t, column, values):
    return t.filter(pc.is_in(t[column], value_set=values))


def write_tables(out, seed, customers, documents, embeddings, events):
    """The ten engine tables: `customers` sampled customers with all their
    orders and lineitems, the whole region/nation/supplier/part dimensions,
    and samples of the events, documents and embeddings. Returns row counts."""
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    tables = {t: extract(t) for t in ("region", "nation", "supplier", "part")}
    tables["customer"] = _sample(rng, extract("customer"), customers, "c_custkey")
    tables["orders"] = _isin(extract("orders"), "o_custkey", tables["customer"]["c_custkey"])
    tables["lineitem"] = _isin(extract("lineitem"), "l_orderkey",
                               tables["orders"]["o_orderkey"])
    tables["events"] = _sample(rng, extract("events"), events, "event_id")
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    rows = {name: t.num_rows for name, t in tables.items()}
    rows.update(write_corpus(out, seed, documents, embeddings))
    return rows


def write_corpus(out, seed, documents, embeddings):
    """Samples of the documents and the embeddings; returns row counts."""
    rng = np.random.default_rng(seed + 104729)
    os.makedirs(out, exist_ok=True)
    tables = {"documents": _sample(rng, extract("documents"), documents, "doc_id"),
              "embeddings": _sample(rng, extract("embeddings"), embeddings, "vec_id")}
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def _day(ts):
    return ts.strftime("%Y-%m-%d")


def write_refresh(out, seed, n_initial, n_batches, new_per_batch, upd_per_batch,
                  del_per_batch, bad_per_batch, events_per_batch):
    """Initial orders load plus `n_batches` date-ordered change batches.

    A seeded sample of the extract's orders, in order-date order, gives the
    initial load and then each batch's new orders. A batch also updates
    `upd_per_batch` earlier live orders (status and price taken from another
    test-data order) and deletes `del_per_batch`, and carries
    `bad_per_batch` rows with an unknown status that the quality stage
    drops. Every row has `_op` (I/U/D) and `_seq` (its batch; the initial
    load is batch 0). Events batches are consecutive slices of the extract's
    events, for the streaming merge sink.

    Also writes `keys.parquet`, every order key a batch or the initial load
    carries, for the reader's lookups. Returns (states, batch file sizes):
    `states[b]` is the live orders after batch b, key -> (key, custkey,
    status, price, yyyy-mm-dd, priority)."""
    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out, exist_ok=True)
    orders, events = extract("orders"), extract("events")
    need = n_initial + n_batches * new_per_batch
    if need > orders.num_rows or n_batches * events_per_batch > events.num_rows:
        raise SystemExit(f"perfbench: {n_batches} batches need more rows than the extract has")
    picked = orders.take(pa.array(rng.choice(orders.num_rows, need, replace=False)))
    picked = picked.sort_by([("o_orderdate", "ascending"), ("o_orderkey", "ascending")])
    cols = picked.column_names
    rows = [tuple(r[c] for c in cols) for r in picked.to_pylist()]
    donors = orders.select(["o_orderstatus", "o_totalprice"]).to_pylist()

    def model(r):
        return (r[0], r[1], r[2], r[3], _day(r[4]), r[5])

    def table(rs, ops, seq):
        t = pa.Table.from_pylist([dict(zip(cols, r)) for r in rs], schema=orders.schema)
        return t.append_column("_op", pa.array(ops, pa.string())) \
                .append_column("_seq", pa.array(np.full(len(rs), seq, dtype=np.int64)))

    initial = rows[:n_initial]
    live = {r[0]: r for r in initial}
    pq.write_table(table(initial, ["I"] * len(initial), 0),
                   os.path.join(out, "orders_initial.parquet"))
    states = [{k: model(r) for k, r in live.items()}]
    keys = [r[0] for r in initial]
    sizes = []
    for b in range(1, n_batches + 1):
        lo = n_initial + (b - 1) * new_per_batch
        new = rows[lo:lo + new_per_batch]
        chosen = rng.choice(np.array(sorted(live)), upd_per_batch + del_per_batch,
                            replace=False)
        changes = [(r, "I") for r in new]
        for k in chosen[:upd_per_batch]:
            d = donors[int(rng.integers(len(donors)))]
            r = live[int(k)]
            changes.append(((r[0], r[1], d["o_orderstatus"], d["o_totalprice"]) + r[4:], "U"))
        changes += [(live[int(k)], "D") for k in chosen[upd_per_batch:]]
        for r, op in changes:
            if op == "D":
                del live[r[0]]
            else:
                live[r[0]] = r
        for j in range(bad_per_batch):
            r = rows[int(rng.integers(len(rows)))]
            changes.append(((BAD_KEY0 + b * bad_per_batch + j, r[1], "X") + r[3:], "I"))
        keys += [r[0] for r, op in changes if op == "I"]
        states.append({k: model(r) for k, r in live.items()})
        changes = [changes[i] for i in rng.permutation(len(changes))]
        p = os.path.join(out, f"orders_batch_{b:04d}.parquet")
        pq.write_table(table([r for r, _ in changes], [op for _, op in changes], b), p)
        pe = os.path.join(out, f"events_batch_{b:04d}.parquet")
        pq.write_table(events.slice((b - 1) * events_per_batch, events_per_batch), pe)
        sizes.append(os.path.getsize(p) + os.path.getsize(pe))
    pq.write_table(pa.table({"o_orderkey": pa.array(sorted(set(keys)), pa.int64())}),
                   os.path.join(out, "keys.parquet"))
    return states, sizes
