#!/usr/bin/env python3
"""Strong-scaling probe (dev tool, driver-side python like oracle_check.py).

ScaleBench measures how runtime grows with DATA at fixed cores; this
measures how it shrinks with CORES at fixed data — the other empirical
axis behind the 1000-executor claim. It runs graft.Bench on the 16x
inflated tables (built by ScaleBench under target/scalebench/x16) at
local[4/8/16/32] on a fixed query set spanning the engine's execution
profiles (global sort, PPJoin self-join, LSH explode+join, iterative CC,
iterative PageRank, PQ codebook+top-k, iterative BPE agg), and writes
CORE_SCALING.json with per-query times, 4->32 speedups, and parallel
efficiency.

Each Bench child runs in its own temp cwd so its per-query breakdown
file never lands in the repo.

Usage: python3 tools/core_scaling.py [x16_dir]
"""
import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = [4, 8, 16, 32]
QUERIES = [
    "q_o1_sort", "q_dedup_jaccard", "q_minhash_lsh_pairs",
    "q_dup_clusters", "q_pagerank", "q_pq_ann", "q_bpe_train",
    # finance core: the reference's own workload shape on the cores axis
    "q_a1_oi", "q_m8_rolling_refit",
]


def run_bench(data_dir: str, cores: int) -> dict:
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_SF_DIR": data_dir,
        "SPARK_GRAFT_CPUS": str(cores),
        # fixed partition count across core counts: partitioning is a
        # property of the data; varying it with cores would conflate
        # per-partition memory pressure with parallelism
        "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(max(CORES)),
        "SPARK_GRAFT_REPS": "2",
        "SPARK_GRAFT_ONLY": ",".join(QUERIES),
    })
    cp = f"{REPO}/target/scala-2.13/classes:/opt/spark/jars/*"
    # 48g, not 16g: the x64 probe at 4 cores OOMed a 16g heap (r14,
    # recorded in SCALE.md) — fewer cores means fewer but BIGGER
    # concurrent task slices under the pinned 32-partition plan, and the
    # heap must hold the worst slice set at every core count
    heap = os.environ.get("SPARK_GRAFT_HEAP", "48g")
    with tempfile.TemporaryDirectory(prefix=f"corescale-{cores}-") as cwd:
        out = subprocess.run(
            ["java", "-cp", cp, f"-Xmx{heap}", "graft.Bench"],
            cwd=cwd, env=env, capture_output=True, text=True, check=True)
        # read the COMPLETE per-query breakdown the child writes in its
        # cwd — the one-line stdout contract is size-limited and drops
        # the fastest queries once the set grows. Subset runs (ONLY set)
        # write it as bench_full_subset.json.
        full = os.path.join(cwd, "bench_full_subset.json")
        if os.path.exists(full):
            with open(full) as f:
                return json.load(f)
    for line in out.stdout.splitlines():
        if '"metric"' in line:
            return json.loads(line)
    raise RuntimeError(f"no bench JSON line at cores={cores}:\n{out.stderr[-2000:]}")


def main() -> None:
    # abspath: the Bench children run in temp cwds, so a relative data
    # dir would resolve to nothing and every query would "fail" silently
    data = os.path.abspath(
        sys.argv[1] if len(sys.argv) > 1 else f"{REPO}/target/scalebench/x16")
    if not os.path.exists(f"{data}/_BUILT"):
        sys.exit(f"{data} not built — run `sbt \"runMain graft.ScaleBench\"` first")
    runs = {}
    for c in CORES:
        r = run_bench(data, c)
        if r.get("errors") or r.get("n_failed"):
            sys.exit(f"bench errors at cores={c}: {r.get('errors')}")
        missing = [q for q in QUERIES if q not in r["queries"]]
        if missing:
            sys.exit(f"bench at cores={c} returned no time for: {missing}")
        runs[str(c)] = {"total": r["value"], "queries": r["queries"]}
        print(f"[cores] local[{c}]: total {r['value']:.1f} s", file=sys.stderr)
    lo, hi = str(CORES[0]), str(CORES[-1])
    ratio = CORES[-1] / CORES[0]
    # clamp: times are serialized to 3 decimals, so a <0.5 ms query reads
    # 0.000 and an unclamped ratio divides by zero after four clean runs
    per_q = {
        q: round(max(runs[lo]["queries"][q], 1e-3)
                 / max(runs[hi]["queries"][q], 1e-3), 2)
        for q in QUERIES
    }
    speedup = round(runs[lo]["total"] / runs[hi]["total"], 2)
    result = {
        "metric": "core_scaling", "data": data, "cores": CORES,
        "reps": 2, "queries_set": QUERIES, "runs": runs,
        f"speedup_{lo}_to_{hi}": speedup,
        "parallel_efficiency": round(speedup / ratio, 2),
        "per_query_speedup": per_q,
    }
    out_path = f"{REPO}/CORE_SCALING.json"
    with open(out_path, "w") as f:
        json.dump(result, f)
        f.write("\n")
    print(json.dumps({k: result[k] for k in
                      ("metric", f"speedup_{lo}_to_{hi}",
                       "parallel_efficiency", "per_query_speedup")}))


if __name__ == "__main__":
    main()
