"""Attribution of traced Spark jobs to photon-ml layers, and the
per-layer metrics of a traced run.

A job is attributed by its full call-site stack (the result stage's
`details`, recorded by perfbench.Trace). The stack is scanned from the
innermost program frame outwards twice: first against the call-site
rules (file and line range), then against the file rules. The first
match names the job's layer and kind. A job whose stack holds no
program frame (a broadcast or a query-stage job submitted from one of
Spark's own threads) stays unattributed and is reported as such.

Line ranges are those of the program at the commit the notes name; a
line that moves falls back to its file's rule, so drift shows as a
shifted share, not as lost time.
"""
import re
import statistics

FRAME = re.compile(r"^(graft\.[\w.$]+)\((\w+\.scala):(\d+)\)$")

# materialize() at CoordinateDescent.scala:202 is one helper with two
# callers: the per-pass frame checkpoint in rescore() (line 219) and the
# per-entity model checkpoint (lines 304-305). It defers to its caller.
PASS_THROUGH = {("CoordinateDescent.scala", 202)}

# (file, first line, last line) -> (layer, kind)
CALL_SITES = [
    ("CoordinateDescent.scala", 219, 219, "ml.descent", "checkpoint"),
    ("CoordinateDescent.scala", 304, 305, "ml.random", "model_checkpoint"),
    ("CoordinateDescent.scala", 164, 164, "ml.descent", "input_cache"),
    # GameTrainingDriver's read -> prepare -> validate step, row probes
    ("GameTrainingDriver.scala", 41, 69, "sources", "ingest"),
    ("GameTrainingDriver.scala", 197, 249, "sources", "ingest"),
    ("GameTrainingDriver.scala", 170, 175, "sources", "model_save"),
    ("GameScoringDriver.scala", 25, 29, "sources", "ingest"),
    ("ModelIO.scala", 40, 80, "sources", "model_save"),
    ("ModelIO.scala", 83, 136, "sources", "model_load"),
    ("ModelIO.scala", 138, 144, "sources", "score_write"),
    ("Objectives.scala", 72, 72, "ml.fixed", "input_cache"),
]

# file -> (layer, kind); the frame's package decides when no file does
FILES = {
    "CoordinateDescent.scala": ("ml.descent", "other"),
    "Glm.scala": ("ml.fixed", "other"),
    "GlmMath.scala": ("ml.fixed", "other"),
    "Objectives.scala": ("ml.fixed", "pass"),
    "Optimizers.scala": ("ml.fixed", "other"),
    "RandomEffect.scala": ("ml.random", "solve"),
    "GroupedSampling.scala": ("ml.random", "sample"),
    "Evaluators.scala": ("ml.eval", "other"),
    "ModelIO.scala": ("sources", "other"),
}
PACKAGES = [
    ("graft.sources.", "sources"),
    ("graft.drivers.", "drivers"),
    ("graft.ml.tuning.", "operators"),
    ("graft.operators.", "operators"),
    ("graft.functions.", "operators"),
    ("graft.streaming.", "operators"),
    ("graft.SparkEntry", "operators"),
    ("graft.Tables", "operators"),
    ("graft.ml.", "ml.other"),
]
UNATTRIBUTED = ("unattributed", "")


def frames(site):
    out = []
    for ln in site.splitlines():
        m = FRAME.match(ln.strip())
        if m and (m.group(2), int(m.group(3))) not in PASS_THROUGH:
            out.append((m.group(1), m.group(2), int(m.group(3))))
    return out


def attribute(site):
    fs = frames(site)
    for _, f, line in fs:
        for rf, lo, hi, layer, kind in CALL_SITES:
            if f == rf and lo <= line <= hi:
                return layer, kind
    for name, f, _ in fs:
        if f in FILES:
            return FILES[f]
        for prefix, layer in PACKAGES:
            if name.startswith(prefix):
                return layer, "other"
    return UNATTRIBUTED


def job_table(res):
    """Every traced job with its span, time and layer (for the record)."""
    t = res["trace"]
    out = []
    for j in t["jobs"]:
        layer, kind = attribute(t["sites"][j["site"]])
        fs = frames(t["sites"][j["site"]])
        out.append({"id": j["id"], "span": j["span"],
                    "s": (j["end"] - j["start"]) / 1e3,
                    "layer": layer, "kind": kind,
                    "frame": f"{fs[0][1]}:{fs[0][2]}" if fs else None})
    return out


def _shares(jobs):
    """Split the union of the jobs' intervals among them: an instant
    covered by k jobs gives each 1/k of it. Returns (union_s, [share_s])."""
    events = sorted({t for j in jobs for t in (j["start"], j["end"])})
    shares = [0.0] * len(jobs)
    union = 0.0
    for a, b in zip(events, events[1:]):
        live = [i for i, j in enumerate(jobs)
                if j["start"] <= a and j["end"] >= b]
        if live:
            union += (b - a) / 1e3
            for i in live:
                shares[i] += (b - a) / 1e3 / len(live)
    return union, shares


MB = 1024 * 1024
# the harness trains with --iterations 2: every entity is solved twice
DESCENT_ITERATIONS = 2


def op_breakdown(op, trace, ctx):
    """Layer metrics of one traced operation, and its seconds per layer."""
    tag = f"op{op['index']}/"
    jobs = [j for j in trace["jobs"] if j["span"].startswith(tag)]
    union, shares = _shares(jobs)
    layer_of = {j["id"]: attribute(trace["sites"][j["site"]]) for j in jobs}
    if ctx["workload"] == "registry-mix":
        # a registry query returns a lazy frame; the benchmark's parquet
        # write of it is the job that runs the query's plan
        layer_of = {k: ("operators", "output") if v == UNATTRIBUTED else v
                    for k, v in layer_of.items()}
    by, kinds = {}, {}
    for j, s in zip(jobs, shares):
        layer, kind = layer_of[j["id"]]
        by[layer] = by.get(layer, 0.0) + s
        kinds[(layer, kind)] = kinds.get((layer, kind), 0.0) + s
    stages = [s for s in trace["stages"] if s["job"] in layer_of]
    tasks = sum(s["tasks"] for s in stages)
    ckpt = [j for j in jobs
            if layer_of[j["id"]] == ("ml.descent", "checkpoint")]
    ckpt_bytes = sum(int(trace["rdd_peak_bytes"].get(str(r), 0))
                     for j in ckpt for r in j["persisted"])
    score_written = sum(s["written"] for s in stages if layer_of[s["job"]]
                        == ("sources", "score_write"))
    ingest = kinds.get(("sources", "ingest"), 0.0)
    random_s = by.get("ml.random", 0.0)
    entities = float(sum(ctx["models"].get(op["index"], {}).values()))
    m = {
        "drivers.driver_only_s": op["wall_s"] - union,
        "sources.ingest_s": ingest,
        "sources.ingest_rows_per_s":
            ctx["input_rows"] / ingest if ingest else 0.0,
        "sources.model_load_s": kinds.get(("sources", "model_load"), 0.0),
        "sources.model_save_s": kinds.get(("sources", "model_save"), 0.0),
        "sources.score_write_s": kinds.get(("sources", "score_write"), 0.0),
        "sources.score_write_mb": score_written / MB,
        "ml.descent.s": by.get("ml.descent", 0.0),
        "ml.descent.checkpoint_s":
            kinds.get(("ml.descent", "checkpoint"), 0.0),
        "ml.descent.checkpoint_jobs": float(len(ckpt)),
        "ml.descent.checkpoint_mb": ckpt_bytes / MB,
        "ml.fixed.s": by.get("ml.fixed", 0.0),
        "ml.fixed.passes": float(sum(
            1 for k in layer_of.values() if k == ("ml.fixed", "pass"))),
        "ml.random.s": random_s,
        "ml.random.model_checkpoint_s":
            kinds.get(("ml.random", "model_checkpoint"), 0.0),
        "ml.random.entities": entities,
        "ml.random.entities_per_s":
            entities * DESCENT_ITERATIONS / random_s if random_s else 0.0,
        "ml.score.s": sum(p["wall_s"] for p in op["probes"]),
        "ml.eval.s": by.get("ml.eval", 0.0),
        "spark.jobs": float(len(jobs)),
        "spark.stages": float(len(stages)),
        "spark.tasks": float(tasks),
        "spark.empty_task_ratio":
            sum(s["empty_tasks"] for s in stages) / tasks if tasks else 0.0,
        "spark.sched_delay_s": sum(s["sched_ms"] for s in stages) / 1e3,
        "spark.executor_run_s": sum(s["run_ms"] for s in stages) / 1e3,
        "spark.executor_cpu_s": sum(s["cpu_ns"] for s in stages) / 1e9,
        "spark.gc_s": sum(s["gc_ms"] for s in stages) / 1e3,
        "spark.shuffle_read_mb": sum(s["shuffle_read"] for s in stages) / MB,
        "spark.shuffle_write_mb": sum(s["shuffle_write"] for s in stages) / MB,
        "spark.spill_mb": sum(s["spill"] for s in stages) / MB,
        "spark.block_peak_mb": max(
            [int(v) for k, v in trace["span_block_peak_bytes"].items()
             if k.startswith(tag)] or [0]) / MB,
        "spark.failed_tasks": float(sum(s["failed_tasks"] for s in stages)),
        "trace.unattributed_s": by.get("unattributed", 0.0),
    }
    for q in ctx["queries"]:
        qjobs = [j for j in jobs if j["span"] == tag + q]
        m[f"operators.{q}.s"] = _shares(qjobs)[0]
        m[f"operators.{q}.jobs"] = float(len(qjobs))
    return m, by


def per_layer(workload, res, verdicts, truth, queries):
    """Medians over the run's traced operations of every per-layer
    metric (zero where a layer does no work on this workload), and the
    median seconds per layer."""
    ctx = {"workload": workload, "queries": queries,
           "input_rows": sum(truth[f"{s}_rows"]
                             for s in ("train", "valid", "score"))
           if truth else 0,
           "models": {v["op"]: v["values"]["models"] for v in verdicts
                      if v["ok"] and "values" in v}}
    traced = [o for o in res["ops"] if o["traced"] and o["error"] is None]
    per_op = [op_breakdown(o, res["trace"], ctx) for o in traced]
    out = {k: statistics.median(m[k] for m, _ in per_op)
           for k in per_op[0][0]} if per_op else {}
    # op 0, the fresh JVM's first operation, is slower than any traced one
    untraced = [o for o in res["ops"] if not o["traced"] and o["index"] > 0]
    out["trace.overhead_s"] = (
        statistics.median(o["wall_s"] for o in traced) -
        statistics.median(o["wall_s"] for o in untraced))
    layers_s = {k: statistics.median(by.get(k, 0.0) for _, by in per_op)
                for k in sorted({k for _, by in per_op for k in by})}
    return out, layers_s
