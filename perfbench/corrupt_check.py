"""Shows that the output checks catch broken outputs: runs one workload
with its outputs kept, then damages a copy of them in several ways and
expects the checks to fail on every damaged copy (and pass on the intact
one).

    python3 perfbench/corrupt_check.py --workload NAME --seed N

Exits 0 when every damage is caught.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import run  # noqa: E402


def rewrite(path, fn):
    """Replace the parquet dataset at `path` with fn(its table)."""
    t = fn(pq.read_table(path))
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(t, os.path.join(path, "part-0.parquet"))


def dup_row(t, i=0):
    return pa.concat_tables([t, t.slice(i, 1)])


def set_value(column, value, row=0):
    def fn(t):
        vals = t.column(column).to_pylist()
        vals[row] = value(vals[row])
        return t.set_column(t.schema.get_field_index(column), column,
                            pa.array(vals, t.schema.field(column).type))
    return fn


def new_doc_copy(t):
    """Every chunk of the first doc again under a fresh doc_id."""
    first = t.filter(pc.equal(t["doc_id"], t["doc_id"][0]))
    ids = pa.array([10**12] * first.num_rows, t.schema.field("doc_id").type)
    return pa.concat_tables([t, first.set_column(0, "doc_id", ids)])


def damages(workload, manifest):
    pii = manifest.get("pii", ["x"])[0]
    return {
        "tabular_ml": {
            "duplicated feature row": ("features", dup_row),
            "scorer AUC off by 0.01": ("evaluation", set_value("value", lambda v: v + 0.01)),
            "a TVD above 1": ("drift", set_value("drift", lambda v: 1.5)),
        },
        "corpus_curate": {
            "a document repeated under a new id": ("curated", new_doc_copy),
            "planted PII in a chunk": ("curated", set_value("chunk_text", lambda v: v + " " + pii)),
            "an over-long chunk": ("curated", set_value("chunk_tokens", lambda v: 65)),
        },
        "corpus_incremental": {
            "a duplicated state hash": ("state1/hashes", dup_row),
            "a document repeated under a new id": ("batch2", new_doc_copy),
        },
        "lm_kn": {
            "a native score off by 1e-5": ("native", set_value("knn_logp", lambda v: v + 1e-5)),
            "a positive log-prob": ("knn", set_value("knn_logp", lambda v: 0.5)),
        },
    }[workload]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=run.WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                    "--seed", str(a.seed), "--seconds", "1", "--keep"], check=True)
    work = max(glob.glob(os.path.join(run.BUILD_DIR, "work", f"{a.workload}-{a.seed}-*")),
               key=os.path.getmtime)
    res = json.load(open(os.path.join(work, "result.json")))
    inputs = os.path.join(run.BUILD_DIR, "inputs", f"{a.workload}-{a.seed}")
    manifest = json.load(open(os.path.join(inputs, "manifest.json")))
    rdir = res["last_round"]
    ok = True
    intact = checks.check(a.workload, inputs, manifest, rdir, res["artifacts"])
    print(f"intact outputs: {intact or 'all checks pass'}")
    ok &= not intact
    for name, (sub, fn) in damages(a.workload, manifest).items():
        copy = rdir + ".damaged"
        shutil.rmtree(copy, ignore_errors=True)
        shutil.copytree(rdir, copy)
        rewrite(os.path.join(copy, sub), fn)
        found = checks.check(a.workload, inputs, manifest, copy, res["artifacts"])
        print(f"{name}: {'caught: ' + found[0] if found else 'NOT CAUGHT'}")
        ok &= bool(found)
        shutil.rmtree(copy)
    shutil.rmtree(work)
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
