"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py          # Python checks only
    python3 perfbench/selfcheck.py --jvm    # also the digest checks (a JVM run)
    python3 perfbench/selfcheck.py --testdata DIR   # also: data/ copies DIR

- with --testdata DIR: every table under data/sf<sf>/ is byte-identical to
  DIR/sf<sf>/<table>.parquet, the test data TESTDATA.md describes;
- the same seed gives byte-identical inputs;
- the nearest-rank percentile and its samples-beyond count behave as the
  reporting rule assumes (109 samples leave 10 beyond the nearest-rank
  p90; the 16-query set leaves fewer than 10 beyond any percentile above
  the median, so only the median is reported);
- a failed call counts as +inf and a median that lands on it reports
  FAILED_S;
- with --jvm: the digest of every input table and of the first queries is
  unchanged under another row order and under a 3-file split.
"""
import filecmp
import os
import shutil
import sys
import tempfile

import gen
import run


def beyond(n, q):
    """Samples strictly beyond the nearest-rank q-th percentile of n."""
    return n - run.percentile(list(range(1, n + 1)), q)


def check_inputs_reproducible(tmp):
    a, b = os.path.join(tmp, "a"), os.path.join(tmp, "b")
    gen.write(gen.seeded_tables(0.001, 5), a)
    gen.write(gen.seeded_tables(0.001, 5), b)
    names = sorted(os.listdir(a))
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    assert not mismatch and not errors and len(match) == len(gen.TABLES), (mismatch, errors)
    gen.write(gen.seeded_tables(0.001, 6), os.path.join(tmp, "c"))
    assert not filecmp.cmp(os.path.join(a, "orders.parquet"),
                           os.path.join(tmp, "c", "orders.parquet"), shallow=False)


def check_data_copies(testdata):
    for sf in sorted(d for d in os.listdir(gen.DATA) if d.startswith("sf")):
        names = [f"{t}.parquet" for t in gen.TABLES]
        match, mismatch, errors = filecmp.cmpfiles(
            os.path.join(gen.DATA, sf), os.path.join(testdata, sf), names, shallow=False)
        assert len(match) == len(names), (sf, mismatch, errors)


def check_percentiles():
    assert beyond(109, 90) == 10
    assert beyond(16, 90) < 10 and beyond(16, 50) == 8
    inf = float("inf")
    assert run.percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert run.percentile([1.0, inf, inf], 50) == inf
    res = {"passes": [{"wall_s": 5.0, "samples": [{"name": "a", "s": 1.0},
                                                   {"name": "b", "s": inf},
                                                   {"name": "c", "s": inf}]}],
           "setup_s": 1.0, "peak_rss_mb": 1.0, "disk_mb": 1.0}
    assert run.call_p50(res) == run.FAILED_S
    ops = [{"name": "q", "digest": "1:2", "ok": None, "error": None},
           {"name": "r", "digest": None, "ok": None, "error": "boom"}]
    assert [n for n, _ in run.check_ops(ops, {"q": "1:2"})] == ["r"]
    assert [n for n, _ in run.check_ops(ops[:1], {"q": "1:3"})] == ["q"]


def check_digests(tmp):
    split = os.path.join(tmp, "split")
    gen.write(gen.seeded_tables(run.SF, 1), split, files=3)
    rundir = os.path.join(run.BUILD_DIR, "runs", f"selfcheck-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    try:
        res = run.run_harness(run.build.build(run.BUILD_DIR), "selfcheck", 1, 1, 0, rundir,
                              input_b=run.inputs(run.SF, 2), input_split=split)
    finally:
        shutil.rmtree(rundir, ignore_errors=True)
    bad = [o for o in res["passes"][0]["ops"] if o["error"] or not o["ok"]]
    assert not bad, bad


def main():
    os.makedirs(run.BUILD_DIR, exist_ok=True)
    tmp = tempfile.mkdtemp(dir=run.BUILD_DIR)
    try:
        check_inputs_reproducible(tmp)
        check_percentiles()
        if "--testdata" in sys.argv:
            check_data_copies(sys.argv[sys.argv.index("--testdata") + 1])
        if "--jvm" in sys.argv:
            check_digests(tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print("selfcheck: ok")


if __name__ == "__main__":
    main()
