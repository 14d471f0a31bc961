"""Probes on the engine's public seams. No package code is patched.

- :class:`CountingIO` wraps the lake's manifest I/O object (the ``io=``
  argument of ``LakeTable.create``) and times every call as a ``fileio``
  span.
- :class:`ProbedLake` is a ``LakeTable`` whose public methods report each
  call to a :class:`ReplayProbe` and otherwise behave exactly as the base
  class.
- :class:`ReplayProbe` recovers batch boundaries from one
  ``run_incremental`` call: the ``transform`` hook runs right after a
  batch's ``read_batch`` returns and right before its ``apply_batch``
  starts; ``apply_batch`` ends with its ``commit``; the upkeep that
  ``run_incremental`` runs inline (``maybe_compact``, ``vacuum``) is a lake
  call too. A batch therefore runs from the end of the previous batch's
  last lake call to the end of its own.
"""

from __future__ import annotations

import time

from trde703_openfoodfacts_etl_spark.sources.lake import LakeTable

from .spans import Tracer


class CountingIO:
    """Delegates to ``inner``; every method call is a ``fileio.<name>`` span."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if not callable(attr):
            return attr

        def timed(*args, **kwargs):
            with self._tracer.span(f"fileio.{name}", "fileio"):
                return attr(*args, **kwargs)

        return timed


class ReplayProbe:
    """Batch boundaries (always) and lake spans (when ``tracer`` is set) of
    one replay; also the data bytes and files the lake wrote."""

    def __init__(self, tracer: Tracer | None = None, key: str = "",
                 clock=time.perf_counter):
        self.tracer = tracer
        self.key = key
        self.clock = clock
        #: [start, read_end, end] per batch
        self.batches: list[list[float | None]] = []
        self.last_end = clock()
        self.bytes_written = 0
        self.files_written = 0
        self.files_vacuumed = 0
        self.snapshot_id = None  # latest snapshot this replay committed
        self._batch = None
        self._apply = None

    def on_batch(self, df):
        """``run_incremental``'s ``transform`` hook: the current batch was
        just read and is about to be applied."""
        now = self.clock()
        self._end_batch()
        start = self.last_end
        self.batches.append([start, now, None])
        if self.tracer is not None:
            t = self.tracer
            self._batch = t.open("pipeline.batch", "pipeline",
                                 key=f"{self.key}b{len(self.batches)}", start=start)
            t.close(t.open("pipeline.read_batch", "pipeline", start=start), end=now)
            self._apply = t.open("merge.apply_batch", "merge", jobs=True, start=now)
        return df

    def finish(self) -> None:
        self._end_batch()

    def _end_batch(self) -> None:
        if not self.batches or self.batches[-1][2] is not None:
            return
        self.batches[-1][2] = self.last_end
        if self.tracer is not None:
            if self._apply is not None:  # apply_batch returned without a commit
                self.tracer.close(self._apply, end=self.last_end)
                self._apply = None
            self.tracer.close(self._batch, end=self.last_end)
            self._batch = None

    def call(self, name: str, jobs: bool, fn, *args, **kwargs):
        t = self.tracer
        sp = t.open(name, "lake", jobs=jobs) if t is not None else None
        try:
            out = fn(*args, **kwargs)
        finally:
            if sp is None:
                self.last_end = self.clock()
            else:
                t.close(sp)
                self.last_end = sp.end
                if name == "lake.commit" and self._apply is not None and t.current is self._apply:
                    t.close(self._apply, end=sp.end)
                    self._apply = None
        if name == "lake.write_bucket_files":
            for files in out.values():
                self.files_written += len(files)
                self.bytes_written += sum(int(fe["bytes"]) for fe in files)
        elif name == "lake.commit":
            self.snapshot_id = out["snapshot_id"]
        elif name == "lake.vacuum":
            self.files_vacuumed += len(out)
        return out


class Passthrough:
    """The probe of a lake that reports nowhere (during ``create``, and
    after a measured replay)."""

    @staticmethod
    def call(name, jobs, fn, *args, **kwargs):
        return fn(*args, **kwargs)


def _probed(name: str, jobs: bool = False):
    base = getattr(LakeTable, name.split(".", 1)[1])

    def method(self, *args, **kwargs):
        return self.probe.call(name, jobs, base, self, *args, **kwargs)

    method.__name__, method.__doc__ = base.__name__, base.__doc__
    return method


class ProbedLake(LakeTable):
    """``LakeTable`` reporting its public calls to ``self.probe``. Calls
    that can start Spark jobs run under their own job group."""

    probe = Passthrough()
    snapshot = _probed("lake.snapshot")
    latest_id = _probed("lake.latest_id")
    read = _probed("lake.read")
    write_bucket_files = _probed("lake.write_bucket_files", jobs=True)
    commit = _probed("lake.commit")
    compact = _probed("lake.compact", jobs=True)
    maybe_compact = _probed("lake.maybe_compact", jobs=True)
    vacuum = _probed("lake.vacuum")
