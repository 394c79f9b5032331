"""Spans around the calls into the engine's layers (traced run only).

A :class:`Tracer` replaces a layer's public function, at the module
attribute its caller looks up, with a wrapper that

1. materializes the call's DataFrame arguments first, so work the caller
   left lazy is charged to the caller's span, not to this one;
2. opens a span (name, start, end, parent) and makes its id the Spark job
   group, so every job the call submits is labelled with it;
3. calls the layer, then persists and counts the DataFrames it returned:
   lazy output is computed inside its own span, and the next layer starts
   from cached input;
4. closes the span and restores the parent's job group.

Self time is a span's duration minus the part its child spans cover. The
tracer keeps every output it persisted so the benchmark can read counters
off them after the timed rep, then releases them with the rest of the
session's caches.
"""

from __future__ import annotations

import time
from collections import defaultdict

from pyspark.sql import DataFrame

OTHER_GROUP = "trace.other"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.outputs: dict[str, list] = defaultdict(list)  # span name -> results
        self.input_rows: dict[str, int] = defaultdict(int)
        self._patches: list[tuple] = []
        self._set_group(OTHER_GROUP)

    # -- spans -------------------------------------------------------------
    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, False)

    def open(self, name: str) -> dict:
        rec = {
            "id": f"{name}#{len(self.spans) + len(self.stack)}",
            "name": name,
            "parent": self.stack[-1]["id"] if self.stack else None,
            "start": time.perf_counter(),
            "end": None,
            "rows": 0,
        }
        self.stack.append(rec)
        self._set_group(rec["id"])
        return rec

    def close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self.stack.remove(rec)
        self.spans.append(rec)
        self._set_group(self.stack[-1]["id"] if self.stack else OTHER_GROUP)

    # -- patching ----------------------------------------------------------
    def patch(self, module, attr: str, name: str, pick=None) -> None:
        """Wrap module.attr in a span called `name`. `pick(result)` selects
        the DataFrames to materialize (default: every DataFrame returned)."""
        orig = getattr(module, attr)
        tracer = self

        def traced(*args, **kwargs):
            frames = [a for a in list(args) + list(kwargs.values()) if isinstance(a, DataFrame)]
            for i, df in enumerate(frames):
                n = df.count()
                if i == 0:
                    tracer.input_rows[name] += n
            rec = tracer.open(name)
            try:
                out = orig(*args, **kwargs)
                rec["rows"] = tracer.materialize(pick(out) if pick else out)
            finally:
                tracer.close(rec)
            tracer.outputs[name].append(out)
            return out

        setattr(module, attr, traced)
        self._patches.append((module, attr, orig))

    def patch_waves(self, module, attr: str, name: str) -> None:
        """Wrap run_waves so each wave is one span: it opens when the wave's
        build function is called and closes after the wave's cleanup, so it
        covers the wave's writes and manifest update too."""
        orig = getattr(module, attr)
        tracer = self

        def traced_run_waves(spark, transcripts, output_dir, build_wave, *a, **kw):
            def traced_build(wave_turns):
                rec = tracer.open(name)
                try:
                    tables, cleanup = build_wave(wave_turns)
                except BaseException:
                    tracer.close(rec)
                    raise

                def traced_cleanup():
                    try:
                        if cleanup is not None:
                            cleanup()
                    finally:
                        tracer.close(rec)

                return tables, traced_cleanup

            return orig(spark, transcripts, output_dir, traced_build, *a, **kw)

        setattr(module, attr, traced_run_waves)
        self._patches.append((module, attr, orig))

    def unpatch(self) -> None:
        for module, attr, orig in reversed(self._patches):
            setattr(module, attr, orig)
        self._patches.clear()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    @staticmethod
    def materialize(out) -> int:
        frames = [out] if isinstance(out, DataFrame) else [
            o for o in (out if isinstance(out, (tuple, list)) else []) if isinstance(o, DataFrame)
        ]
        rows = 0
        for df in frames:
            rows += df.persist().count()
        return rows

    # -- folding -----------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """span id -> duration minus the union of its children's intervals
        (children of one span never overlap: the driver is one thread)."""
        child_time: dict[str, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: (s["end"] - s["start"]) - child_time[s["id"]] for s in self.spans}

    def top_level_s(self) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)

    def by_name(self, folded: dict[str, dict[str, float]]) -> dict[str, dict[str, float]]:
        """span name -> self time `s` and the event-log fields of every job
        submitted while one of its spans was innermost."""
        selfs = self.self_times()
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        for s in self.spans:
            agg = out[s["name"]]
            agg["s"] += selfs[s["id"]]
            for field, v in folded.get(s["id"], {}).items():
                agg[field] += v
        return out

    def to_json(self, t0: float) -> list[dict]:
        selfs = self.self_times()
        return [
            {
                "id": s["id"],
                "name": s["name"],
                "parent": s["parent"],
                "start_s": s["start"] - t0,
                "end_s": s["end"] - t0,
                "self_s": selfs[s["id"]],
                "rows": s["rows"],
            }
            for s in sorted(self.spans, key=lambda s: s["start"])
        ]
