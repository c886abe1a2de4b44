"""Output checks, run after the timed loop. One verdict per attempted
operation (per query for registry-mix); a verdict that is not ok counts
as a failed operation."""
import glob
import json
import math
import re
import statistics
import subprocess
import sys

import duckdb

SCORE_TOLERANCE = 1e-9


def _pq(path):
    return f"read_parquet('{path}/*.parquet')"


def _json_lines(pattern):
    rows = []
    for f in sorted(glob.glob(pattern)):
        with open(f) as fh:
            rows += [json.loads(ln) for ln in fh if ln.strip()]
    return rows


def rmse_bounds(truth):
    """Bounds on a trained model's RMSE on held-out rows, derived from
    the generator's parameters, not from a measured run: no model beats
    the noise by more than sampling error, and the model must close at
    least half of the gap between knowing no random effect
    (RMSE^2 = noise^2 + the effects' variance) and knowing them all."""
    noise = truth["noise_sd"] ** 2
    effects = sum(c["effect_sd"] ** 2 for c in truth["coords"].values())
    return 0.95 * math.sqrt(noise), math.sqrt(noise + effects / 2)


def _rmse_problem(name, rmse, truth):
    lo, hi = rmse_bounds(truth)
    return [] if lo <= rmse <= hi else \
        [f"{name} rmse={rmse} outside [{lo:.4f}, {hi:.4f}]"]


def _check_train(con, op_dir, inputs, truth):
    sel = _json_lines(f"{op_dir}/model-selection/*.json")
    rmse = sel[0]["metric"] if sel else float("nan")
    problems = _rmse_problem("validation", rmse, truth)
    model = f"{op_dir}/best-model"
    models = {}
    for coord, c in truth["coords"].items():
        got = con.execute(
            f"SELECT count(*) FROM {_pq(f'{model}/random-effect/{coord}')}"
        ).fetchone()[0]
        want = con.execute(
            f"SELECT count(DISTINCT {c['col']}) FROM {_pq(f'{inputs}/train')}"
        ).fetchone()[0]
        models[coord] = got
        if got != want:
            problems.append(f"{coord}: {got} models for {want} entities")
    return problems, {"valid_rmse": rmse, "models": models}


def _check_scores(con, op_dir, inputs, truth):
    """Every score equals a SQL recomputation from the saved model:
    dense fixed effect plus one intercept per entity (0 when unseen)."""
    model = f"{op_dir}/best-model"
    with open(f"{model}/metadata.json") as f:
        meta = json.load(f)
    fixed = [m for m in meta if m["kind"] == "fixed-effect"]
    randoms = [m for m in meta if m["kind"] == "random-effect"]
    joins = "".join(
        f" LEFT JOIN {_pq(model + '/random-effect/' + m['id'])} r{i}"
        f" ON r{i}.reId = CAST(s.{m['reIdCol']} AS VARCHAR)"
        for i, m in enumerate(randoms))
    terms = " + ".join(
        [f"list_inner_product(s.features, fe.w) + {float(m['intercept'])!r}"
         for m in fixed] +
        [f"coalesce(r{i}.intercept, 0)" for i in range(len(randoms))])
    fixed_dir = model + "/fixed-effect/" + fixed[0]["id"]
    n, got, worst = con.execute(f"""
        WITH fe AS (SELECT list(weight ORDER BY feature_idx) AS w
                    FROM {_pq(fixed_dir)} WHERE feature_idx >= 0),
             s AS (SELECT * FROM {_pq(f'{inputs}/score')}),
             want AS (SELECT s.uid, {terms} AS score
                      FROM s CROSS JOIN fe {joins})
        SELECT count(*), count(g.uid), max(abs(g.score - want.score))
        FROM want LEFT JOIN {_pq(f'{op_dir}/scores')} g USING (uid)""").fetchone()
    problems = []
    if n != truth["score_rows"] or got != n:
        problems.append(f"{got} scores for {n} input rows")
    if worst is None or not worst <= SCORE_TOLERANCE:
        problems.append(f"max |score - SQL recomputation| = {worst}")
    ev = _json_lines(f"{op_dir}/scores-metrics/*.json")
    rmse = ev[0]["value"] if ev else float("nan")
    return problems + _rmse_problem("scoring", rmse, truth), \
        {"score_rmse": rmse, "max_abs_diff": worst}


def _check_registry(op, op_dir, fixture, root):
    with open(f"{op_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    queries = [s["name"] for s in op["spans"]]
    with_oracle = [q for q in queries if q in oracle]
    r = subprocess.run(
        [sys.executable, str(root / "tools" / "check.py"), str(fixture),
         str(op_dir), ",".join(with_oracle)],
        capture_output=True, text=True, timeout=120)
    status = {}
    for ln in r.stdout.splitlines():
        m = re.match(r"(\w+)\s+(\S+?):?\s(.*)$", ln)
        if m:
            status[m.group(2)] = (m.group(1), m.group(3))
    verdicts = []
    for q in queries:
        kind, rest = status.get(q, ("MISSING", ""))
        ok = kind == "OK" or (kind == "ROWSONLY" and q not in oracle and
                              not rest.startswith("(0 rows"))
        verdicts.append({"op": op["index"], "query": q, "ok": ok,
                         "detail": f"{kind} {rest}".strip()})
    return verdicts


def check(workload, res, work, truth, fixture, root):
    """One verdict per attempted operation (per query for registry-mix)."""
    con = duckdb.connect()
    inputs = work / "inputs"
    verdicts = []
    for op in res["ops"]:
        op_dir = work / "ops" / f"op{op['index']}"
        if workload == "registry-mix":
            if op["error"] is None:
                verdicts += _check_registry(op, op_dir, fixture, root)
            else:
                verdicts.append({"op": op["index"], "query": None,
                                 "ok": False, "detail": op["error"]})
            continue
        v = {"op": op["index"], "ok": False, "detail": op["error"]}
        if op["error"] is None:
            try:
                p1, v1 = _check_train(con, op_dir, inputs, truth)
                p2, v2 = _check_scores(con, op_dir, inputs, truth)
                v["ok"], v["detail"] = not p1 + p2, "; ".join(p1 + p2)
                v["values"] = {**v1, **v2}
            except Exception as e:  # a missing or unreadable output
                v["detail"] = f"{type(e).__name__}: {e}"
        verdicts.append(v)
    return verdicts


def detail_metrics(workload, verdicts, res, truth):
    """The workload's own end-to-end figures, by the names the notes use:
    medians over untraced operations."""
    ops = [o for o in res["ops"] if not o["traced"]]
    per_span = {}
    for o in ops:
        for s in o["spans"]:
            per_span.setdefault(s["name"], []).append(s["wall_s"])
    span_s = {k: statistics.median(v) for k, v in per_span.items()}
    if workload == "registry-mix":
        return {"mix_s": statistics.median(o["wall_s"] for o in ops),
                "query_s": span_s}
    vals = [v["values"] for v in verdicts if v["ok"]]
    rmse = {k: statistics.median(x[k] for x in vals) if vals else None
            for k in ("valid_rmse", "score_rmse")}
    score_s = span_s.get("GameScoringDriver.run")
    return {"train_s": span_s.get("GameTrainingDriver.run"),
            "score_s": score_s,
            "score_rows_per_s": truth["score_rows"] / score_s
            if score_s else None,
            **rmse, "rmse_bounds": rmse_bounds(truth)}
