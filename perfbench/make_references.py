"""Regenerates references.json: the digest of every checked output, from
one run of each workload at the current commit.

    python3 perfbench/make_references.py [SEED]

The medallion references are the full load that `nightly` runs; the
corpus nights are checked by invariants and have no reference. Run it
only when the expected outputs change on purpose, and cross-check the
query digests against the DuckDB oracle (README.md).
"""
import json
import os
import shutil
import sys

import run


def digests(workload, seed):
    rundir = os.path.join(run.BUILD_DIR, "runs", f"refs-{workload}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        res = run.run_harness(run.build.build(run.BUILD_DIR), workload, seed, 1, 0, rundir)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    ops = res["passes"][0]["ops"]
    errors = [o for o in ops if o["error"]]
    if errors:
        raise SystemExit(f"make_references: {workload} failed: {errors}")
    return {o["name"]: o["digest"] for o in ops if o["digest"] is not None}


def main():
    seed = int(sys.argv[1]) if len(sys.argv) > 1 else 0
    refs = {"queries": digests("queries", seed),
            "nightly": digests("nightly", seed)}
    with open(os.path.join(run.HERE, "references.json"), "w") as f:
        json.dump(refs, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
