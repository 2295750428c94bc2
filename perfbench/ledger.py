"""Per-layer accounting for traced runs, read from Spark's status store.

Tracing tags work with Spark job groups and, once an operation is over,
reads each group's jobs and stages from the JVM ``AppStatusStore``. Setting a
job group and reading the store run no Spark job, and the store is kept with
the UI disabled. Everything is measured from outside the engine:

- builds go through ``TracingCheckpointer``, which wraps the pipeline's
  checkpointer and opens a new group after every stage commit, so the work
  between two commits is booked to the next stage. Its intervals run from
  the instant the build's clock starts to the instant it stops;
- each query-service question runs in a group of its own.
"""

from __future__ import annotations

import time

# stage name -> layer; the pipeline's module names. "triples" is the tail after
# the last commit (the final triples count), booked to the merge layer.
STAGE_LAYER = {
    "chunk_rows": "spans",
    "media_ctx": "spans",
    "media_spans": "spans",
    "mentions": "extract",
    "mention_rows": "extract",
    "image_entity_mentions": "scene",
    "edges_prefusion": "merge",
    "entities_prefusion": "merge",
    "triples": "merge",
    "fusion_blocks": "fusion",
    "fusion_clusters": "fusion",
    "alias_pairs": "fusion",
    "aliases": "fusion",
    "entities": "fusion",
    "edges": "fusion",
}
LAYERS = ("spans", "extract", "scene", "merge", "fusion")
LAYER_FIELDS = ("wall_s", "jobs", "stages", "tasks", "cpu_s", "run_s", "shuffle_mb", "spill_mb")
MB = 1024.0 * 1024.0


class TracingCheckpointer:
    """Wraps a pipeline checkpointer; every other attribute (``eager_stages``,
    ``committed``, ``manifest`` ...) is the wrapped one's, so the pipeline
    takes the same branches traced and untraced."""

    def __init__(self, inner, sc, tag: str, start: float):
        self._inner, self._sc, self._tag = inner, sc, tag
        self.intervals: list[dict] = []  # one per commit, plus the tail
        self.outputs: dict = {}  # stage name -> committed DataFrame
        self._seq = 0
        self._mark = start  # the build's own start time
        sc.setJobGroup(self._group(), "perfbench")

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def _group(self) -> str:
        return f"{self._tag}:{self._seq}"

    def _commit(self, commit, name, df):
        t_call = time.monotonic()
        out = commit(name, df)
        self.outputs[name] = out
        self._close(name, t_call)
        return out

    def _close(self, name: str, t_call: float, t_end: float | None = None) -> None:
        t_end = time.monotonic() if t_end is None else t_end
        self.intervals.append(
            {"stage": name, "group": self._group(), "start": self._mark, "call": t_call, "end": t_end}
        )
        self._seq += 1
        self._mark = t_end
        self._sc.setJobGroup(self._group(), "perfbench")

    def stage(self, name, df):
        return self._commit(self._inner.stage, name, df)

    def stage_light(self, name, df):
        return self._commit(self._inner.stage_light, name, df)

    def finish(self, end: float) -> None:
        """Close the tail interval (the work after the last commit) at the
        build's own end time."""
        self._close("triples", end, end)
        clear_group(self._sc)


def clear_group(sc) -> None:
    sc.setLocalProperty("spark.jobGroup.id", None)
    sc.setLocalProperty("spark.job.description", None)


class StatusReader:
    """Reads jobs, stages, cached RDDs and JVM health from the status store."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._jvm = spark._jvm
        self._store = self._jsc.statusStore()
        self.last_job = self._max_job_id()

    def _drain(self) -> None:
        # the store is filled by the listener bus; wait until it caught up
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_job_id(self) -> int:
        self._drain()
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def new_jobs(self) -> list[dict]:
        """Jobs submitted since the previous call: id, group and stage ids."""
        self._drain()
        jobs = self._store.jobsList(None)
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                continue
            g = j.jobGroup()
            ids = j.stageIds()
            out.append(
                {
                    "id": j.jobId(),
                    "group": g.get() if g.isDefined() else None,
                    "stages": [ids.apply(k) for k in range(ids.size())],
                }
            )
        self.last_job = max([self.last_job] + [j["id"] for j in out])
        return sorted(out, key=lambda j: j["id"])

    def totals(self, jobs: list[dict]) -> dict:
        """Summed work of the executed (not skipped) stages of ``jobs``."""
        t = {"jobs": len(jobs), "stages": 0, "tasks": 0, "cpu_s": 0.0, "run_s": 0.0,
             "shuffle_mb": 0.0, "spill_mb": 0.0, "output_mb": 0.0}
        seen: set[int] = set()
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() == "SKIPPED":
                    continue
                t["stages"] += 1
                t["tasks"] += s.numTasks()
                t["cpu_s"] += s.executorCpuTime() / 1e9
                t["run_s"] += s.executorRunTime() / 1e3
                t["shuffle_mb"] += s.shuffleWriteBytes() / MB
                t["spill_mb"] += s.diskBytesSpilled() / MB
                t["output_mb"] += s.outputBytes() / MB
        return t

    def cached_rdds(self) -> dict[int, float]:
        """Cached RDD id -> MB held (memory + disk)."""
        rdds = self._store.rddList(True)
        out = {}
        for i in range(rdds.size()):
            r = rdds.apply(i)
            out[r.id()] = (r.memoryUsed() + r.diskUsed()) / MB
        return out

    def health(self) -> dict:
        """Driver-JVM heap in use, retained RDD blocks and loaded classes."""
        rt = self._jvm.java.lang.Runtime.getRuntime()
        rdds = self._store.rddList(True)
        blocks = sum(rdds.apply(i).numCachedPartitions() for i in range(rdds.size()))
        classes = self._jvm.java.lang.management.ManagementFactory.getClassLoadingMXBean()
        return {
            "heap_used_mb": (rt.totalMemory() - rt.freeMemory()) / MB,
            "rdd_blocks": blocks,
            "loaded_classes": classes.getLoadedClassCount(),
        }


def build_record(reader: StatusReader, tracer: TracingCheckpointer, jobs: list[dict],
                 build_s: float, cores: int, rdds_before: dict) -> dict:
    """Per-layer and whole-build numbers of one traced build."""
    group_stage = {iv["group"]: iv["stage"] for iv in tracer.intervals}
    by_layer: dict[str, list] = {layer: [] for layer in LAYERS}
    ungrouped = 0
    for j in jobs:
        stage = group_stage.get(j["group"])
        if stage is None:
            ungrouped += 1
        else:
            by_layer.setdefault(STAGE_LAYER.get(stage, "other"), []).append(j)
    rec: dict = {"ungrouped_jobs": ungrouped + len(by_layer.get("other", []))}
    # only mapped stages count: an unmapped or missing stage lowers the cover
    wall = {layer: 0.0 for layer in LAYERS}
    for iv in tracer.intervals:
        if iv["stage"] in STAGE_LAYER:
            wall[STAGE_LAYER[iv["stage"]]] += iv["end"] - iv["start"]
    for layer in LAYERS:
        t = reader.totals(by_layer[layer])
        t["wall_s"] = wall[layer]
        for f in LAYER_FIELDS:
            rec[f"{layer}.{f}"] = t[f]
    whole = reader.totals(jobs)
    commits = tracer.intervals[:-1]  # the tail is not a commit
    new_rdds = {k: v for k, v in reader.cached_rdds().items() if k not in rdds_before}
    rec.update(
        {
            "build.jobs": whole["jobs"],
            "build.stages": whole["stages"],
            "build.cpu_s": whole["cpu_s"],
            "build.cpu_util": whole["cpu_s"] / (build_s * cores),
            "build.unstaged_s": sum(iv["call"] - iv["start"] for iv in tracer.intervals),
            "build.stage_cover": sum(wall.values()) / build_s,
            "checkpoint.commits": len(commits),
            "checkpoint.commit_s": sum(iv["end"] - iv["call"] for iv in commits),
            "checkpoint.write_mb": whole["output_mb"] + sum(new_rdds.values()),
        }
    )
    return rec
