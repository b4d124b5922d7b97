"""Output checks, computed without graft code: from the generated inputs,
from the written outputs, and from properties the method must have.

Each check function returns a list of problems (empty when all hold).
"""
import collections
import json
import math
import os

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

import gen

FEATURES = ["qty", "price", "disc", "tax", "lag", "urgent"]
CHUNK_SIZE, CHUNK_OVERLAP = 64, 16
SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}
AUC_MARGIN = 0.03      # holdout AUC may trail the generating model's own AUC by this
MLLIB_AUC_TOL = 2e-3   # MLlib's evaluator bins the ROC curve (numBins = 1000)


def _read(path, columns=None):
    return pq.read_table(path, columns=columns)


def rank_auc(scores, labels):
    """Mann-Whitney AUC, ties sharing their average rank."""
    scores = np.asarray(scores, dtype=np.float64)
    labels = np.asarray(labels)
    order = np.argsort(scores, kind="mergesort")
    s = scores[order]
    ranks = np.empty(len(s))
    i = 0
    while i < len(s):
        j = i
        while j + 1 < len(s) and s[j + 1] == s[i]:
            j += 1
        ranks[i:j + 1] = (i + j) / 2.0 + 1
        i = j + 1
    r = np.empty(len(s))
    r[order] = ranks
    pos = labels == 1
    n1, n0 = pos.sum(), (~pos).sum()
    return (r[pos].sum() - n1 * (n1 + 1) / 2.0) / (n1 * n0)


def _metric(path, name):
    t = _read(path).to_pydict()
    return dict(zip(t["metric"], t["value"])).get(name)


def check_tabular(inputs, manifest, rdir, artifacts):
    bad = []
    li = _read(os.path.join(inputs, "lineitem.parquet"), ["l_orderkey"])
    orders = _read(os.path.join(inputs, "orders.parquet"), ["o_orderkey"])
    joined = int(pc.sum(pc.is_in(li["l_orderkey"], value_set=orders["o_orderkey"])).as_py())
    feats = _read(os.path.join(rdir, "features")).to_pydict()
    n = len(feats["uid"])
    if n != joined:
        bad.append(f"mover wrote {n} rows, the join has {joined}")
    if len(set(feats["uid"])) != n:
        bad.append("mover output holds duplicate uids")

    # the Scorer's AUC against a rank-sum AUC of the written scores
    scores = _read(os.path.join(rdir, "scores"), ["uid", "label", "target_proba"]).to_pydict()
    if len(scores["uid"]) != n:
        bad.append(f"scorer wrote {len(scores['uid'])} rows for {n} inputs")
    auc = rank_auc(scores["target_proba"], scores["label"])
    reported = _metric(os.path.join(rdir, "evaluation"), "auc")
    if reported is None or abs(reported - auc) > MLLIB_AUC_TOL:
        bad.append(f"scorer reports AUC {reported}, the written scores give {auc:.6f}")

    # the holdout AUC against the generating model's own AUC
    x = {f: np.asarray(feats[f], dtype=np.float64) for f in FEATURES}
    logit = sum(gen.LABEL_WEIGHTS[f] * x[f] for f in FEATURES) + gen.LABEL_BIAS
    floor = rank_auc(logit, np.asarray(feats["label"])) - AUC_MARGIN
    holdout = _metric(os.path.join(rdir, "validation"), "auc")
    if holdout is None or not holdout >= floor:
        bad.append(f"holdout AUC {holdout} below the floor {floor:.4f}")

    # drift: every TVD in [0, 1]; discrete TVDs equal the exact ones
    drift = _read(os.path.join(rdir, "drift")).to_pydict()
    if sorted(drift["column"]) != sorted(["l_returnflag", "o_orderpriority", "qty", "price"]):
        bad.append(f"drift report covers {drift['column']}")
    year = np.asarray(feats["o_year"])
    for c, m, v in zip(drift["column"], drift["metric"], drift["drift"]):
        if not 0.0 <= v <= 1.0:
            bad.append(f"TVD of {c} is {v}")
        if m == "tvd_discrete":
            vals = np.asarray(feats[c])
            cur, ref = vals[year >= 1995], vals[year < 1995]
            keys = set(vals)
            exact = sum(abs((cur == k).mean() - (ref == k).mean()) for k in keys) / 2
            if abs(exact - v) > 1e-9:
                bad.append(f"discrete TVD of {c} is {v}, exact {exact}")
    return bad


def doc_texts(rdir_out):
    """Rebuild each output document's text from its chunks (chunk i starts
    at token i * (size - overlap)) and check the chunk invariants."""
    t = _read(rdir_out, ["doc_id", "split", "chunk_id", "chunk_text", "chunk_tokens"]).to_pydict()
    by_doc = collections.defaultdict(list)
    bad = []
    for d, s, c, txt, k in zip(t["doc_id"], t["split"], t["chunk_id"], t["chunk_text"],
                               t["chunk_tokens"]):
        by_doc[d].append((c, s, txt))
        if not 0 < k <= CHUNK_SIZE:
            bad.append(f"doc {d} chunk {c} has {k} tokens (chunk-size {CHUNK_SIZE})")
    docs = {}
    for d, chunks in by_doc.items():
        chunks.sort()
        if [c for c, _, _ in chunks] != list(range(len(chunks))):
            bad.append(f"doc {d} has chunk ids {[c for c, _, _ in chunks]}")
        toks = []
        for c, _, txt in chunks:
            toks += txt.split()[CHUNK_OVERLAP if c else 0:]
        docs[d] = (" ".join(toks), {s for _, s, _ in chunks})
    return docs, t["chunk_text"], bad[:5]


def _curated_checks(docs, chunk_texts, pii):
    bad = []
    texts = [t for t, _ in docs.values()]
    if len(set(texts)) != len(texts):
        bad.append(f"{len(texts) - len(set(texts))} output docs repeat another's text")
    blob = "\n".join(chunk_texts)
    leaked = [p for p in pii if p in blob]
    if leaked:
        bad.append(f"{len(leaked)} planted PII strings reach the output, e.g. {leaked[0]}")
    multi = [d for d, (_, s) in docs.items() if len(s) != 1]
    if multi:
        bad.append(f"{len(multi)} docs carry more than one split")
    return bad


def check_curate(inputs, manifest, rdir, artifacts):
    docs, chunk_texts, bad = doc_texts(os.path.join(rdir, "curated"))
    bad += _curated_checks(docs, chunk_texts, manifest["pii"])
    n = len(docs)
    counts = collections.Counter(next(iter(s)) for _, s in docs.values())
    for s, p in SPLITS.items():
        # five binomial standard deviations
        if abs(counts[s] / n - p) > 5 * math.sqrt(p * (1 - p) / n):
            bad.append(f"split {s} holds {counts[s]} of {n} docs (expected share {p})")
    stages = json.load(open(os.path.join(rdir, "curated-stages.json")))
    final = [v["rows"] for v in stages.values() if "rows" in v]
    if not final or final[-1] != n:
        bad.append(f"stage log's final count {final[-1:]} != {n} output docs")
    return bad


def check_incremental(inputs, manifest, rdir, artifacts):
    bad, all_docs, all_chunks = [], {}, []
    survivors = 0
    for k, b in enumerate(["batch1", "batch2", "replay"], start=1):
        docs, chunk_texts, b_bad = doc_texts(os.path.join(rdir, b))
        bad += b_bad
        all_docs.update(docs)
        all_chunks += chunk_texts
        survivors += len(docs)
        state_rows = _read(os.path.join(rdir, f"state{k}", "hashes")).num_rows
        if state_rows != survivors:
            bad.append(f"state after {b} holds {state_rows} hashes, {survivors} docs survived")
        if b == "replay":
            rows = manifest["batch_rows"][-1]
            if len(docs) * 50 > rows:
                bad.append(f"the replayed batch kept {len(docs)} of {rows} docs")
    bad += _curated_checks(all_docs, all_chunks, manifest["pii"])
    return bad


def check_lm(inputs, manifest, rdir, artifacts):
    bad = []
    docs = _read(os.path.join(inputs, "docs.parquet"), ["doc_id", "text"]).to_pydict()
    ntok = {d: len(t.split()) for d, t in zip(docs["doc_id"], docs["text"])}
    knn = _read(os.path.join(rdir, "knn")).to_pydict()
    mkn = _read(os.path.join(rdir, "mkn")).to_pydict()
    nat = _read(os.path.join(rdir, "native")).to_pydict()
    for name, t, pos in (("knn", knn, "knn_positions"), ("mkn", mkn, "mkn_positions")):
        if sorted(t["doc_id"]) != sorted(ntok):
            bad.append(f"{name} scored {len(t['doc_id'])} of {len(ntok)} docs")
        wrong = [d for d, p in zip(t["doc_id"], t[pos]) if p != ntok.get(d)]
        if wrong:
            bad.append(f"{name}: {len(wrong)} docs whose positions differ from the token count")
    native = {c: dict(zip(nat["doc_id"], nat[c])) for c in ("knn_logp", "mkn_logp")}
    for c, t in (("knn_logp", knn), ("mkn_logp", mkn)):
        for d, v in zip(t["doc_id"], t[c]):
            w = native[c].get(d)
            if v is None or not math.isfinite(v) or v > 0:
                bad.append(f"{c} of doc {d} is {v}")
                break
            # agree at round(6); two values straddling a rounding boundary
            # by less than 1e-9 count as agreeing
            if w is None or (round(v, 6) != round(w, 6) and abs(v - w) > 1e-9):
                bad.append(f"{c} of doc {d}: composable {v}, native {w}")
                break
    for d in artifacts.get("kn_discounts", [None]):
        if d is None or not 0 < d < 1:
            bad.append(f"interpolated KN discount {d} outside (0, 1)")
    for triple in artifacts.get("mkn_discounts", [None]):
        if triple is None or not all(0 < d < cap for d, cap in zip(triple, (1, 2, 3))):
            bad.append(f"modified KN discounts {triple} outside (0,1)/(0,2)/(0,3)")
    return bad


CHECKS = {"tabular_ml": check_tabular, "corpus_curate": check_curate,
          "corpus_incremental": check_incremental, "lm_kn": check_lm}


def check(workload, inputs, manifest, rdir, artifacts):
    try:
        return CHECKS[workload](inputs, manifest, rdir, artifacts)
    except Exception as e:  # a missing or malformed output fails the checks
        return [f"{type(e).__name__}: {e}"]
