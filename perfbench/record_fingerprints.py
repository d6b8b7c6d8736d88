#!/usr/bin/env python3
"""Record the curation queries' result fingerprints for every input variant.

    python3 perfbench/record_fingerprints.py

Run it from a checkout root at the commit whose outputs are the reference.
For each variant it runs the curate_queries workload, requires every pass to
give the same fingerprints, and cross-checks the results once against the
DuckDB oracle SQL with graft.Verify and tools/precheck.py. Only then does it
write perfbench/curate_fingerprints.json, which every curate_queries run
checks its passes against.
"""
import json
import os
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

QUERIES = ["q_infer_drift", "q_chunk_dups", "q_dup_spans", "q_scrub_spans",
           "q_winnow_pairs", "q_dedup_components", "q_minhash_pairs"]
VARIANTS = 4


def main():
    cp, _ = run.build()
    recorded = {}
    for v in range(VARIANTS):
        run.generate(cp, ["curate_queries"], v, time.time() + 600)
        res = run.leg(cp, "curate_queries", run.CORES, v, 0, 2, False, False, time.time() + 600)[0]
        prints = [p["summary"]["fingerprints"] for p in res["passes"]]
        if any(p != prints[0] for p in prints):
            sys.exit(f"variant {v}: passes disagree: {prints}")
        data = os.path.join(run.BUILD, "data", f"curate_queries-v{v}")
        out = os.path.join(run.BUILD, "verify", f"v{v}")
        java = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in run.ADD_OPENS] +
                [f"-Xmx{run.HEAP}", "-Dspark.ui.enabled=false",
                 f"-Djava.io.tmpdir={os.path.join(run.BUILD, 'work', 'tmp')}",
                 f"-Dlog4j2.configurationFile={os.path.join(run.HERE, 'log4j2.properties')}",
                 "-cp", cp, "graft.Verify", data, out] + QUERIES)
        subprocess.run(java, check=True, env=dict(os.environ, SPARK_GRAFT_CPUS=str(run.CORES)))
        subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "precheck.py"), data, out]
                       + QUERIES, check=True)
        recorded[str(v)] = prints[0]
    with open(os.path.join(run.HERE, "curate_fingerprints.json"), "w") as fh:
        json.dump(recorded, fh, indent=2, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
