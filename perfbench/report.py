#!/usr/bin/env python3
"""Record the traced run of the current checkout as a committed artifact.

    python3 perfbench/report.py --seed 1 --seconds 6 [--workloads serve_read,serve_ingest,batch_gates]

For each workload it makes an untraced run and a traced run with the same
seed, then writes perfbench/results/traced_head.json: the end-to-end
metrics (untraced), every per-layer metric (traced) with the end-to-end
metric and workload it should move, and the tracing overhead (traced over
untraced facade latency).
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# layer metric → (end-to-end metric it should move, workload where it shows)
MOVES = {
    "api.search.jobs": ("search_p50_ms", "serve_read"),
    "api.search.job_ms": ("search_p50_ms", "serve_read"),
    "api.search.driver_ms": ("search_p50_ms", "serve_read"),
    "api.search.plan_ms": ("search_p50_ms", "serve_read"),
    "api.ask.jobs": ("ask_p50_ms", "serve_read"),
    "api.ask.job_ms": ("ask_p50_ms", "serve_read"),
    "api.ask.driver_ms": ("ask_p50_ms", "serve_read"),
    "api.search.plain_p50_ms": ("search_p50_ms", "serve_read"),
    "api.search.track_p50_ms": ("search_p50_ms", "serve_read"),
    "api.search.phrase_p50_ms": ("search_p50_ms", "serve_read"),
    "api.search.wildcard_p50_ms": ("search_p50_ms", "serve_read"),
    "api.search.acl_p50_ms": ("search_p50_ms", "serve_read"),
    "search.parse_ms": ("search_p50_ms", "serve_read"),
    "search.indexed_ms": ("search_p50_ms", "serve_read"),
    "search.indexed.jobs": ("search_p50_ms", "serve_read"),
    "search.sketch_ms": ("search_p50_ms", "serve_read"),
    "search.sketch.jobs": ("search_p50_ms", "serve_read"),
    "search.sketch_kept": ("search_p50_ms", "serve_read"),
    "search.sketch_yield": ("search_p50_ms", "serve_read"),
    "search.refresh_lex_ms": ("fresh_p50_ms", "serve_ingest"),
    "search.refresh_lex.jobs": ("fresh_p50_ms", "serve_ingest"),
    "search.refresh_sketch_ms": ("fresh_p50_ms", "serve_ingest"),
    "search.refresh_sketch.jobs": ("fresh_p50_ms", "serve_ingest"),
    "acl.enforce_ms": ("search_p50_ms", "serve_read"),
    "acl.enforce.jobs": ("search_p50_ms", "serve_read"),
    "acl.allowed_ratio": ("search_p50_ms", "serve_read"),
    "ask.lex_rung_ms": ("ask_p50_ms", "serve_read"),
    "ask.rungs": ("ask_p50_ms", "serve_read"),
    "vector.embed_ms": ("ask_p50_ms", "serve_read"),
    "vector.ann_ms": ("ask_p50_ms", "serve_read"),
    "vector.ann.jobs": ("ask_p50_ms", "serve_read"),
    "vector.refresh_vec_ms": ("fresh_p50_ms", "serve_ingest"),
    "vector.refresh_vec.jobs": ("fresh_p50_ms", "serve_ingest"),
    "store.version_probe_ms": ("search_p50_ms", "serve_read"),
    "store.latest_active_plan_ms": ("search_p50_ms", "serve_read"),
    "store.put_ms": ("fresh_p50_ms", "serve_ingest"),
    "store.put.jobs": ("fresh_p50_ms", "serve_ingest"),
    "store.files_per_put": ("search_p50_ms", "serve_ingest"),
    "store.log_files": ("search_p50_ms", "serve_ingest"),
    "store.log_bytes": ("bytes_per_user_byte", "serve_ingest"),
    "search.postings_bytes": ("bytes_per_user_byte", "serve_ingest"),
    "search.sketch_bytes": ("bytes_per_user_byte", "serve_ingest"),
    "vector.ivf_bytes": ("bytes_per_user_byte", "serve_ingest"),
    "refresh.append_ratio": ("fresh_tail_ms", "serve_ingest"),
    "graph.relational_ask_ms": ("ask_p50_ms", "serve_ingest"),
    "pipeline.steady_s": ("batch_steady_s", "batch_gates"),
    "pipeline.steady.jobs": ("batch_steady_s", "batch_gates"),
    "dedup.steady_s": ("batch_steady_s", "batch_gates"),
    "dedup.steady.jobs": ("batch_steady_s", "batch_gates"),
    "streaming.steady_s": ("batch_steady_s", "batch_gates"),
    "streaming.steady.jobs": ("batch_steady_s", "batch_gates"),
    "batch.first_tax_s": ("batch_first_s", "batch_gates"),
}
E2E = {"setup_s", "search_p50_ms", "search_tail_ms", "ask_p50_ms", "ask_tail_ms",
       "fresh_p50_ms", "fresh_tail_ms", "ops_per_s", "bytes_per_user_byte",
       "batch_steady_s", "batch_first_s"}
# facade latencies whose traced/untraced ratio is the tracing overhead
OVERHEAD = ["search_p50_ms", "ask_p50_ms", "fresh_p50_ms", "batch_steady_s"]


def run(workload, seed, seconds, trace):
    subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
                    "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                   cwd=ROOT, check=True, stdout=sys.stderr)
    path = os.path.join(ROOT, ".bench_out", f"report-{workload}-{seed}-{trace}.json")
    with open(path) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=6)
    ap.add_argument("--workloads", default="serve_read,serve_ingest,batch_gates")
    args = ap.parse_args()
    out = {"seed": args.seed, "seconds": args.seconds, "workloads": {}}
    for w in args.workloads.split(","):
        plain, traced = run(w, args.seed, args.seconds, 0), run(w, args.seed, args.seconds, 1)
        pm, tm = plain["metrics"], traced["metrics"]
        out["workloads"][w] = {
            "info": {"untraced": plain["info"], "traced": traced["info"]},
            "attempted": plain["attempted"] + traced["attempted"],
            "failed": plain["failed"] + traced["failed"],
            "failures": {"untraced": plain["failures"], "traced": traced["failures"]},
            "end_to_end": {k: v for k, v in pm.items() if k in E2E},
            "per_layer": {k: dict(v, moves=MOVES[k][0], workload=MOVES[k][1])
                          for k, v in tm.items() if k in MOVES},
            "tracing_overhead": {k: tm[k]["value"] / pm[k]["value"] - 1
                                 for k in OVERHEAD if k in pm and k in tm},
        }
    os.makedirs(os.path.join(HERE, "results"), exist_ok=True)
    with open(os.path.join(HERE, "results", "traced_head.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
