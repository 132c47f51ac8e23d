"""Self-test of the benchmark (python3 perfbench/run.py --selftest).

Checks the percentile and self-time arithmetic, that the seed alone fixes
the pass orders, and, in one short JVM run, that a query that throws and a
query whose result disagrees with its oracle both count as failures while a
correct query beside them does not."""
import metrics
import run


def check_arithmetic():
    assert metrics.percentile([4, 1, 3, 2], 50) == 2.5
    assert metrics.percentile([1, 2, 3, 4, 5], 0) == 1
    assert metrics.percentile([1, 2, 3, 4, 5], 100) == 5
    assert abs(metrics.percentile(list(range(1, 11)), 90) - 9.1) < 1e-9
    assert metrics.percentile([7.0], 75) == 7.0
    # Harrell-Davis median: symmetric values give the middle one; for three
    # values the rank weights are 7/27, 13/27, 7/27
    assert abs(metrics.harrell_davis_median([3, 1, 2]) - 2) < 1e-9
    assert abs(metrics.harrell_davis_median([1, 2, 10]) - 103 / 27) < 1e-6
    assert metrics.harrell_davis_median([5.0]) == 5.0
    # a percentile needs ten samples above it
    assert metrics.tail_percentile(list(range(20))) is None
    assert metrics.tail_percentile(list(range(40)))[0] == 75
    assert metrics.tail_percentile(list(range(100)))[0] == 90
    assert metrics.tail_percentile(list(range(1000)))[0] == 99

    assert metrics.covered([(10, 30), (20, 50), (60, 70)], 0, 100) == 50
    assert metrics.covered([(-5, 10), (90, 120)], 0, 100) == 20
    assert metrics.covered([], 0, 100) == 0
    spans = [
        dict(id=1, parent=None, start=0, end=100),
        dict(id=2, parent=1, start=10, end=30),
        dict(id=3, parent=1, start=20, end=50),   # overlaps its sibling
        dict(id=4, parent=2, start=12, end=15),
        dict(id=5, parent=3, start=40, end=80),   # runs past its parent
    ]
    st = metrics.self_times(spans)
    assert st == {1: 60, 2: 17, 3: 20, 4: 3, 5: 40}, st


def check_orders():
    for w in run.WORKLOADS:
        a, b = run.pass_orders(w, 7), run.pass_orders(w, 7)
        assert a == b, "same seed, different order"
        assert a != run.pass_orders(w, 8), "different seed, same order"
        assert all(sorted(o) == sorted(run.WORKLOADS[w]) for o in a)
    assert len({tuple(o) for o in run.pass_orders("etl_sql", 7)}) > 1


def check_failures_are_loud():
    control = "j1_inner"
    order = [control, "selftest_throws", "selftest_wrong"]
    raw = run.run_jvm(run.build.build(), [order, order], traced=False, selftest=True)
    attempted, failed, failures = run.tally(raw)
    run.shutil.rmtree(run.WORK, ignore_errors=True)
    # 2 passes x 3 queries + 3 checks; the thrower fails twice in the passes
    # and once in the check, the wrong result once in the check
    assert attempted == 9, attempted
    assert sorted(failures) == ["selftest_throws", "selftest_wrong"], failures
    assert failed == 4, (failed, failures)
    assert "oracle" in failures["selftest_wrong"], failures


def main():
    checks = [check_arithmetic, check_orders, check_failures_are_loud]
    for c in checks:
        c()
        print(f"selftest: {c.__name__} ok", flush=True)
    print(f"selftest: {len(checks)} checks passed")
    return 0
