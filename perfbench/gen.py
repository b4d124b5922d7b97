"""Seeded input generator for the pipeline benchmark.

Every workload's inputs are a pure function of (workload, seed): the same
seed writes byte-identical parquet files. The program under test only ever
sees these files. Alongside the data, `manifest.json` records what was
planted (duplicate groups, PII strings, row counts) for the output checks.

Sizes are chosen so one pipeline round takes a few seconds on a 4-core
machine; README.md records them.
"""
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- sizes

TAB_LINEITEMS = 60_000       # lineitem rows (orders = lineitems / 4)
TAB_ORPHAN_RATE = 0.03       # lineitems whose order is missing (dropped by the join)

CURATE_DOCS = 1_000          # corpus_curate base documents
INCR_BATCHES = 2             # corpus_incremental daily batches ...
INCR_DOCS = 700              # ... of this many base documents each
LM_REF_DOCS = 300            # lm_kn reference (training) slice
LM_SCORE_DOCS = 1_500        # lm_kn documents scored

VOCAB = 20_000               # Zipf vocabulary size
ZIPF_S = 1.07                # Zipf exponent
EXACT_COPY_RATE = 0.05       # planted exact copies (per base doc)
NEAR_COPY_RATE = 0.05        # planted one-word-edit near copies
PII_RATE = 0.10              # docs carrying one planted email and one phone
JUNK_RATE = 0.03             # short punctuation-only docs the quality filter drops

# Label model of tabular_ml: label = 1 iff logit(features) + logistic noise > 0.
# run.py's checks recompute the logit from the written features with these.
LABEL_WEIGHTS = {"qty": 0.06, "price": -0.9, "disc": 1.5, "tax": -1.0,
                 "lag": 0.35, "urgent": 0.8}
LABEL_BIAS = -0.9

STOPWORDS = ["the", "of", "and", "to", "a", "in", "is", "that", "for", "it",
             "with", "as", "was", "on", "be", "by", "at", "this", "have", "from"]


def _vocab(rng):
    """VOCAB distinct lowercase words; English stop words take the top ranks
    so the quality and language signals read the text as English prose."""
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words, seen = list(STOPWORDS), set(STOPWORDS)
    while len(words) < VOCAB:
        n = int(rng.integers(3, 11))
        w = "".join(rng.choice(letters, n))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_probs():
    p = 1.0 / np.arange(1, VOCAB + 1) ** ZIPF_S
    return p / p.sum()


def _docs(rng, words, probs, n):
    """n documents of Zipf-drawn words, 40..400 words each (log-normal,
    median ~120), a full stop every 8..20 words."""
    lengths = np.clip(rng.lognormal(np.log(120), 0.45, n), 40, 400).astype(int)
    toks = rng.choice(len(words), size=int(lengths.sum()), p=probs)
    out, at = [], 0
    for ln in lengths:
        ws = [words[t] for t in toks[at:at + ln]]
        at += ln
        stop = int(rng.integers(8, 21))
        while stop < ln:
            ws[stop - 1] += "."
            stop += int(rng.integers(8, 21))
        ws[-1] += "."
        out.append(ws)
    return out


def _pii(rng, k):
    user = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), 6))
    email = f"{user}{k}@mail{int(rng.integers(1, 99))}.example.org"
    phone = f"555-{int(rng.integers(100, 999))}-{int(rng.integers(1000, 9999))}"
    return email, phone


def _corpus(rng, words, probs, n_base, id0, prior=None):
    """n_base base docs plus planted copies, shuffled, ids from id0.

    Copies draw their original from this batch's base docs and, when
    `prior` (earlier batches' word lists) is given, from those too, so
    the state path has cross-batch duplicates to drop. Returns rows
    (doc_id, words) and the planted groups.
    """
    base = _docs(rng, words, probs, n_base)
    pii = []
    for i in rng.choice(n_base, int(n_base * PII_RATE), replace=False):
        email, phone = _pii(rng, int(i) + id0)
        ws = base[i]
        a, b = sorted(rng.choice(len(ws), 2, replace=False))
        ws.insert(int(a), email)
        ws.insert(int(b) + 1, phone)
        pii += [email, phone]
    pool = base + (prior or [])
    docs = list(base)
    n_exact, n_near = int(n_base * EXACT_COPY_RATE), int(n_base * NEAR_COPY_RATE)
    for _ in range(n_exact):
        docs.append(list(pool[int(rng.integers(len(pool)))]))
    for _ in range(n_near):
        ws = list(pool[int(rng.integers(len(pool)))])
        ws[int(rng.integers(len(ws)))] = words[int(rng.integers(len(STOPWORDS), len(words)))]
        docs.append(ws)
    junk = [["#" * int(rng.integers(2, 6)), "!!", "$$"]
            for _ in range(int(n_base * JUNK_RATE))]
    docs += junk
    order = rng.permutation(len(docs))
    rows = [(id0 + k, docs[i]) for k, i in enumerate(order)]
    return rows, base, {"exact_copies": n_exact, "near_copies": n_near, "pii": pii,
                        "junk": len(junk)}


def _write_docs(path, rows):
    table = pa.table({
        "doc_id": pa.array([r[0] for r in rows], pa.int64()),
        "text": pa.array([" ".join(r[1]) for r in rows], pa.string()),
        "source": pa.array([f"src{r[0] % 4}" for r in rows], pa.string()),
    })
    pq.write_table(table, path)
    return table.num_rows


def gen_tabular(out, seed):
    """lineitem + orders in the sf0.1 star-schema shape, scaled down."""
    rng = np.random.default_rng([seed, 1])
    n_li = TAB_LINEITEMS
    n_ord = n_li // 4
    day0 = np.datetime64("1992-01-01")
    odate = day0 + rng.integers(0, 7 * 365, n_ord).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, 15_000, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 450_000, n_ord), 2)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": pa.array(rng.choice(prio, n_ord)),
    })
    okey = rng.integers(0, n_ord, n_li, dtype=np.int64)
    orphan = rng.random(n_li) < TAB_ORPHAN_RATE
    okey[orphan] += n_ord  # keys past the orders table: dropped by the join
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2_100, n_li), 2)
    odays = (odate[np.minimum(okey, n_ord - 1)] - day0).astype(int)
    # line numbers count each order's lines from 1, so (orderkey, linenumber) is a key
    by_key = np.argsort(okey, kind="stable")
    starts = np.r_[0, np.flatnonzero(np.diff(okey[by_key])) + 1]
    first = np.repeat(starts, np.diff(np.r_[starts, n_li]))
    linenumber = np.empty(n_li, dtype=np.int32)
    linenumber[by_key] = np.arange(n_li) - first + 1
    # return flags drift over time, so the Differ has something to find
    late = odays > 3 * 365
    flag = np.where(rng.random(n_li) < np.where(late, 0.35, 0.2), "R",
                    np.where(rng.random(n_li) < 0.5, "A", "N"))
    lineitem = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, 20_000, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(linenumber),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(flag),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_li)),
        "l_shipdate": pa.array((day0 + (odays + rng.integers(1, 122, n_li))
                                .astype("timedelta64[D]")).astype("datetime64[us]")),
    })
    pq.write_table(orders, os.path.join(out, "orders.parquet"))
    pq.write_table(lineitem, os.path.join(out, "lineitem.parquet"))
    return {"lineitem_rows": n_li, "orders_rows": n_ord, "input_rows": n_li}


def gen_curate(out, seed):
    rng = np.random.default_rng([seed, 2])
    words, probs = _vocab(rng), _zipf_probs()
    rows, _, planted = _corpus(rng, words, probs, CURATE_DOCS, 0)
    n = _write_docs(os.path.join(out, "docs.parquet"), rows)
    return {"input_rows": n, **planted}


def gen_incremental(out, seed):
    rng = np.random.default_rng([seed, 3])
    words, probs = _vocab(rng), _zipf_probs()
    prior, batches = [], []
    planted = {"exact_copies": 0, "near_copies": 0, "pii": [], "junk": 0}
    total = 0
    for b in range(INCR_BATCHES):
        rows, base, p = _corpus(rng, words, probs, INCR_DOCS, b * 1_000_000, prior)
        prior += base
        total += _write_docs(os.path.join(out, f"batch{b + 1}.parquet"), rows)
        batches.append(len(rows))
        for k in planted:
            planted[k] += p[k]
    # the replayed batch: batch 1's documents again under fresh ids
    replay = pq.read_table(os.path.join(out, "batch1.parquet"))
    replay = replay.set_column(0, "doc_id", pa.array(
        np.arange(replay.num_rows, dtype=np.int64) + 9_000_000))
    pq.write_table(replay, os.path.join(out, "replay.parquet"))
    total += replay.num_rows
    return {"input_rows": total, "batch_rows": batches + [replay.num_rows], **planted}


def gen_lm(out, seed):
    rng = np.random.default_rng([seed, 4])
    words, probs = _vocab(rng), _zipf_probs()
    ref = _docs(rng, words, probs, LM_REF_DOCS)
    docs = _docs(rng, words, probs, LM_SCORE_DOCS)
    _write_docs(os.path.join(out, "ref.parquet"), list(enumerate(ref)))
    n = _write_docs(os.path.join(out, "docs.parquet"),
                    [(100_000 + i, d) for i, d in enumerate(docs)])
    return {"input_rows": LM_REF_DOCS + n, "ref_rows": LM_REF_DOCS, "score_rows": n}


GENERATORS = {
    "tabular_ml": gen_tabular,
    "corpus_curate": gen_curate,
    "corpus_incremental": gen_incremental,
    "lm_kn": gen_lm,
}


def ensure_inputs(cache, workload, seed):
    """Generate (once) and return the input dir for (workload, seed)."""
    d = os.path.join(cache, f"{workload}-{seed}")
    if os.path.exists(os.path.join(d, "manifest.json")):
        return d
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    manifest = GENERATORS[workload](tmp, seed)
    manifest["bytes"] = {f: os.path.getsize(os.path.join(tmp, f))
                         for f in sorted(os.listdir(tmp))}
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(manifest, f)
    shutil.rmtree(d, ignore_errors=True)
    os.rename(tmp, d)
    return d
