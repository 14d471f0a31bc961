"""The measuring loop: a fixed count of measured passes, padded to --seconds."""

from types import SimpleNamespace

from perfbench import workloads


def loop(pass_s, seconds, traced=False):
    now = [0.0]
    run = workloads.Run(
        spark=SimpleNamespace(sparkContext=None), root="", work="", seed=0,
        seconds=seconds, traced=traced, session_wall_s=0.0, session_cpu_s=0.0,
        jvm_pid=0, clock=lambda: now[0],
    )

    def one_pass(i, tracer):
        now[0] += pass_s
        return {"i": i}

    return run, workloads._loop(run, one_pass)


def test_slow_passes_measure_the_fixed_count():
    _, (measured, extra) = loop(pass_s=10.0, seconds=5)
    assert [p["i"] for p in measured] == list(range(workloads.MEASURED_PASSES))
    assert extra == []


def test_fast_passes_pad_to_the_seconds_without_counting_them():
    _, (measured, extra) = loop(pass_s=1.0, seconds=5)
    assert len(measured) == workloads.MEASURED_PASSES
    assert len(measured) + len(extra) == 5


def test_traced_run_alternates_only_over_measured_passes():
    run, (measured, extra) = loop(pass_s=1.0, seconds=4, traced=True)
    assert [p["traced"] for p in measured] == [True, False]
    assert [p["traced"] for p in extra] == [False, False]
    assert len(run.tracers) == 1
