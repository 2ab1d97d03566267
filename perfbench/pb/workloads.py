"""Seeded op generators for the four workloads.

A run's ops depend only on (workload, seed); the engine receives only these
generated inputs. Each workload walks a fixed cycle of templates, so every
seed runs the same template mix in the same order and only the literals
change with the seed. The warm-up ops come from a fixed seed of their own.
"""
import os
import zlib

import numpy as np

from . import corpus

WARMUP_SEED = 7919
K = 10

# One closed-loop client; ops per template cycle.
LOOKUP_CYCLE = ["name", "key", "keys"] * 6 + ["name", "parse"]  # 1 in 20 is PARSE
ANALYTIC_CYCLE = ["and_order", "thresholds", "thresholds_date", "subtract_order",
                  "range", "theta", "select_summaries", "select_plain"]
SERVE_CYCLE = ["bm25", "ivf", "sq8", "pq", "rrf", "bm25_lang", "ivf_label",
               "ivf_dead", "ivf_batch"]
# store: each serve request is followed by two ingest batches, so ingest ops
# are two thirds of the mix and the median op is an ingest batch
STORE_SERVE_CYCLE = ["rrf", "sq8", "bm25", "pq", "ivf"]
STORE_BATCHES_PER_REQUEST = 2
INGEST_ROWS = 2000
INGEST_KEYS = 48
WORKLOADS = ("lookup", "analytic", "serve", "ingest", "store")


def rng_for(workload, seed):
    return np.random.Generator(np.random.PCG64(
        np.random.SeedSequence([seed, zlib.crc32(workload.encode())])))


class Zipf:
    """Bounded Zipf(s) over the order keys, hot keys placed by a seeded
    permutation so each seed has its own hot set."""

    def __init__(self, rng, n, s=1.1):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.cdf = np.cumsum(w) / w.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def draw(self):
        r = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return int(self.perm[min(r, len(self.perm) - 1)])


def _lookup(rng, n):
    z = Zipf(rng, corpus.ORDERS)
    ops = []
    for i in range(n):
        tpl = LOOKUP_CYCLE[i % len(LOOKUP_CYCLE)]
        a = z.draw()
        if tpl == "name":
            text = f"QUERY 'name:order{a}.com' LIMIT {K};"
            args = {"offs": [a]}
        elif tpl == "key":
            text = f"QUERY KEY='order:{a}' LIMIT {K};"
            args = {"offs": [a]}
        elif tpl == "keys":
            b = z.draw()
            text = f"QUERY KEYS FOR 'name:order{a}.com' OR 'name:order{b}.com' LIMIT {K};"
            args = {"offs": sorted({a, b})}
        else:
            p = int(rng.integers(1000, 500000))
            text = f"PARSE 'name:order{a}.com' OR 'price' > {p};"
            args = {"printed": f"(name:order{a}.com + (price>{p}))"}
        ops.append({"kind": "stmt", "tpl": tpl, "text": text, "args": args})
    return ops


def _day(d):
    return str(np.datetime64("1970-01-01") + np.timedelta64(int(d), "D"))


def _analytic(rng, n):
    ops = []
    day0 = int((corpus.EPOCH_1995 - np.datetime64("1970-01-01", "us")) // np.timedelta64(1, "D"))
    for i in range(n):
        tpl = ANALYTIC_CYCLE[i % len(ANALYTIC_CYCLE)]
        s = corpus.STATUSES[int(rng.integers(0, 3))]
        pr = corpus.PRIORITIES[int(rng.integers(0, 5))]
        args = {"status": s, "priority": pr}
        if tpl == "and_order":
            p = round(float(rng.uniform(100000, 450000)), 2)
            args["price"] = p
            text = f"QUERY ('status:{s}' AND 'price' > {p} ORDER BY 'price') LIMIT 10;"
        elif tpl == "thresholds":
            t = sorted(round(float(x), 2) for x in rng.uniform(1000, 500000, 3))
            args["bounds"] = t
            text = (f"QUERY 'status:{s}' THRESHOLDS {t[0]}, {t[1]}, {t[2]} "
                    f"FOR KEY 'price' LIMIT 20;")
        elif tpl == "thresholds_date":
            d = sorted(int(x) for x in rng.choice(np.arange(day0, day0 + 2404), 3, replace=False))
            args["bounds"] = d
            text = (f"QUERY 'status:{s}' THRESHOLDS {_day(d[0])}, {_day(d[1])}, {_day(d[2])} "
                    f"FOR KEY '~orderdate' LIMIT 25;")
        elif tpl == "subtract_order":
            text = f"QUERY ('priority:{pr}' - 'status:{s}' ORDER BY 'price') LIMIT 10;"
        elif tpl == "range":
            lo = round(float(rng.uniform(1000, 400000)), 2)
            hi = round(lo + float(rng.uniform(10000, 100000)), 2)
            args["bounds"] = [lo, hi]
            text = f"QUERY 'price' [{lo}, {hi}] LIMIT 10;"
        elif tpl == "theta":
            text = "QUERY MAX('lineprice') > MAX('price') LIMIT 10;"
        elif tpl == "select_summaries":
            text = f"SELECT 'qty', 'price' FROM 'priority:{pr}' WITH SUMMARIES;"
        else:
            text = f"SELECT 'price', 'qty' FROM 'status:{s}' - 'priority:{pr}';"
        ops.append({"kind": "stmt", "tpl": tpl, "text": text, "args": args})
    return ops


def _neighbors(vecs, q, k):
    sims = vecs @ vecs[q]
    sims[q] = -np.inf
    return [int(x) for x in np.argsort(-sims, kind="stable")[:k]]


def _serve_op(rng, tpl, vecs):
    nvec = len(vecs)
    q = int(rng.integers(0, nvec))
    terms = [str(t) for t in rng.choice(corpus.VOCABULARY + [corpus.DUP_WORD], 3, replace=False)]
    op = {"kind": "serve", "tpl": tpl, "tier": tpl.split("_")[0], "k": K}
    if tpl in ("bm25", "bm25_lang", "rrf"):
        op["terms"] = terms
    if tpl != "bm25" and tpl != "bm25_lang":
        op["q"] = q
    if tpl == "bm25_lang":
        op["lang"] = corpus.LANGS[int(rng.integers(0, len(corpus.LANGS)))]
    elif tpl == "ivf_label":
        op["label"] = int(rng.integers(0, 10))
    elif tpl == "ivf_dead":
        # tombstones that bite: three of the query's exact top ten
        near = _neighbors(vecs, q, K)
        dead = set(int(x) for x in rng.choice(near, 3, replace=False))
        dead |= set(int(x) for x in rng.integers(0, nvec, 17))
        op["dead"] = sorted(dead - {q})
    elif tpl == "ivf_batch":
        op["batch"] = int(rng.integers(2, 9))
        del op["q"]
    return op


def _serve(rng, n, vecs, cycle=SERVE_CYCLE):
    return [_serve_op(rng, cycle[i % len(cycle)], vecs) for i in range(n)]


def _ingest(rng, n, run_dir):
    keys = np.array([f"ingest:k{j}" for j in range(INGEST_KEYS)])
    w = 1.0 / np.arange(1, INGEST_KEYS + 1)
    w /= w.sum()
    os.makedirs(run_dir, exist_ok=True)
    ops = []
    for i in range(n):
        ks = keys[rng.choice(INGEST_KEYS, INGEST_ROWS, p=w)]
        # about 1% of the document keys name no order and are dropped
        docs = rng.integers(0, int(corpus.ORDERS * 1.01), INGEST_ROWS)
        vals = rng.uniform(0, 1000, INGEST_ROWS)
        path = os.path.join(run_dir, f"batch-{i:05d}.tsv")
        with open(path, "w") as f:
            f.write("".join(f"{k}\torder:{d}\t{v:.3f}\n" for k, d, v in zip(ks, docs, vals)))
        ops.append({"kind": "ingest", "tpl": "batch", "path": path,
                    "bytes": os.path.getsize(path), "keys": sorted(set(ks.tolist()))})
    return ops


def _store(rng, n, vecs, run_dir):
    """Serving requests on the five base tiers, each followed by ingest batches."""
    per = STORE_BATCHES_PER_REQUEST + 1
    serve = iter(_serve(rng, (n + per - 1) // per, vecs, STORE_SERVE_CYCLE))
    ingest = iter(_ingest(rng, n - (n + per - 1) // per, run_dir))
    return [next(serve) if i % per == 0 else next(ingest) for i in range(n)]


def generate(workload, seed, n, run_dir, vecs=None, warmup=False):
    """`n` ops for `workload`; ids are 0..n-1 (warm-up ids are negative)."""
    rng = rng_for(workload, WARMUP_SEED if warmup else seed)
    if workload == "lookup":
        ops = _lookup(rng, n)
    elif workload == "analytic":
        ops = _analytic(rng, n)
    elif workload == "serve":
        ops = _serve(rng, n, vecs)
    elif workload == "ingest":
        ops = _ingest(rng, n, os.path.join(run_dir, "warmup" if warmup else "batches"))
    elif workload == "store":
        ops = _store(rng, n, vecs, os.path.join(run_dir, "warmup" if warmup else "batches"))
    else:
        raise ValueError(f"unknown workload {workload}")
    for i, op in enumerate(ops):
        op["id"] = -(i + 1) if warmup else i
        if warmup:
            op["warmup"] = True
    return ops
