"""Per-layer metrics, spans and the per-query detail file.

Inputs are the harness's raw records: its own spans (run, pass, query and
the query's build / optimize / plan / exec phases), Spark jobs and stages
from a SparkListener, and Dataset actions from a QueryExecutionListener.
Jobs carry the job group (`p<pass>:<query>`) and phase the harness set on
the calling thread. Actions arrive late and in order on the listener bus:
the harness marks how many had arrived after each pass, which assigns
each action its pass, and within the pass it goes to the only query that
was running when it started (delivery time less duration), if any.

Layer metrics are summed over a pass and reported as the median over the
timed passes.
"""
import statistics

MB = 1048576.0
PHASES = ("build", "optimize", "plan", "exec")


def _union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


class Index:
    """Joins spans, jobs, stages and actions to passes and queries."""

    def __init__(self, h, trace):
        self.spans = {s["id"]: s for s in trace["spans"]}
        self.pass_of_span = {}
        self.query_span = {}  # (pass, name) -> query span
        self.phase_span = {}  # (query span id, phase) -> span
        for s in trace["spans"]:
            if s["kind"] == "pass":
                self.pass_of_span[s["id"]] = int(s["name"].split("-")[1])
        for s in trace["spans"]:
            if s["kind"] == "query":
                self.query_span[(self.pass_of_span[s["parent"]], s["name"])] = s
        for s in trace["spans"]:
            if s["kind"] in PHASES:
                self.phase_span[(s["parent"], s["kind"])] = s
        self.jobs = [j for j in trace["jobs"] if j["pass"]]
        self.stages = {s["id"]: s for s in trace["stages"]}
        self.job_stages = {j["id"]: [self.stages[i] for i in j["stages"] if i in self.stages]
                           for j in self.jobs}
        marks = [(p["action_mark"], p["pass"]) for p in h["passes"]]
        self.actions = []
        for i, a in enumerate(trace["actions"]):
            p = next((pp for mark, pp in marks if i < mark), None)
            self.actions.append(self._place(dict(a, end=a["start"] + a["dur_ms"], pass_=p)))

    def query_of_job(self, j):
        return self.query_span.get((int(j["pass"]), j["group"].split(":", 1)[1]))

    def _place(self, a):
        """Attach an action to the query of its pass running when it started
        (a unique one, else none)."""
        live = [q for (p, _), q in self.query_span.items()
                if p == a["pass_"] and q["start"] <= a["start"] <= q["end"]]
        a["query"] = live[0]["id"] if len(live) == 1 else None
        a["pass"] = a.pop("pass_")
        return a

    def queries_in(self, p):
        return [q for (pp, _), q in self.query_span.items() if pp == p]


def _pass_layers(ix, rec, w, cores):
    p = rec["pass"]
    ps = next(s for sid, s in ix.spans.items() if s["kind"] == "pass" and ix.pass_of_span[sid] == p)
    wall_s = (ps["end"] - ps["start"]) / 1000
    qs = ix.queries_in(p)
    phase = {k: sum((ix.phase_span[(q["id"], k)]["end"] - ix.phase_span[(q["id"], k)]["start"]) / 1000
                    for q in qs if (q["id"], k) in ix.phase_span) for k in PHASES}
    jobs = [j for j in ix.jobs if int(j["pass"]) == p]
    stages = [s for j in jobs for s in ix.job_stages[j["id"]]]
    acts = [a for a in ix.actions if a["pass"] == p]
    pins = [a for a in acts if a["pin_session"] and a["func"] == "collect"]
    build_self = 0.0
    for q in qs:
        b = ix.phase_span.get((q["id"], "build"))
        if b:
            kids = [(j["start"], j["end"]) for j in jobs
                    if j["phase"] == "build" and ix.query_of_job(j) is q]
            kids += [(a["start"], a["end"]) for a in acts if a["query"] == q["id"]]
            build_self += (b["end"] - b["start"] - _union(kids, b["start"], b["end"])) / 1000
    task_s = sum(s["run_ms"] for s in stages) / 1000
    busy = _union([(s["submit"], s["complete"]) for s in ix.stages.values()
                   if s["submit"] >= 0 and s["complete"] >= 0], ps["start"], ps["end"])
    stores = set(w["stores"])
    return {
        "queries.build_s": (phase["build"], "s"),
        "queries.build_self_s": (build_self, "s"),
        "queries.build_jobs": (sum(j["phase"] == "build" for j in jobs), "count"),
        "loops.pin_collects": (len(pins), "count"),
        "loops.pin_s": (sum(a["dur_ms"] for a in pins) / 1000, "s"),
        "loops.checkpoints": (sum("heckpoint" in a["func"] for a in acts), "count"),
        "catalyst.optimize_s": (phase["optimize"], "s"),
        "catalyst.plan_s": (phase["plan"], "s"),
        "scheduler.jobs": (len(jobs), "count"),
        "scheduler.stages": (len(stages), "count"),
        "scheduler.tasks": (sum(s["tasks"] for s in stages), "count"),
        "scheduler.idle_s": (wall_s - busy / 1000, "s"),
        "scheduler.delay_s": (sum(s["first_launch"] - s["submit"] for s in stages
                                  if s["first_launch"] >= 0 and s["submit"] >= 0) / 1000, "s"),
        "kernels.exec_s": (phase["exec"], "s"),
        "kernels.task_s": (task_s, "s"),
        "kernels.task_cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9, "s"),
        "kernels.gc_s": (sum(s["gc_ms"] for s in stages) / 1000, "s"),
        "jvm.gc_s": (rec["gc_s"], "s"),
        "jvm.jit_s": (rec["jit_s"], "s"),
        "kernels.core_util": (task_s / (wall_s * cores), "ratio"),
        "shuffle.write_mb": (sum(s["shuffle_write_b"] for s in stages) / MB, "MB"),
        "shuffle.read_mb": (sum(s["shuffle_read_b"] for s in stages) / MB, "MB"),
        "shuffle.spill_mb": (sum(s["spill_b"] for s in stages) / MB, "MB"),
        "driver.result_mb": (sum(s["result_b"] for s in stages) / MB, "MB"),
        "stores.serve_s": (sum((q["end"] - q["start"]) / 1000 for q in qs if q["name"] in stores), "s"),
        "sink.output_mb": (sum(s["output_b"] for s in stages) / MB, "MB"),
        "trace.pass_s": (wall_s, "s"),
    }


# Metrics that read exactly zero on every run of some workload: layers
# only one workload exercises, and GC and spill, which the small inputs
# and fixed heap rarely trigger. They go to the detail file only.
DETAIL_ONLY = ("loops.pin_s", "kernels.gc_s", "jvm.gc_s", "shuffle.spill_mb",
               "stores.serve_s", "stores.build_s", "sink.output_mb")


def per_layer(h, trace, w):
    """All layer metrics: median over the timed passes of per-pass sums."""
    ix = Index(h, trace)
    rows = [_pass_layers(ix, p, w, h["cores"]) for p in h["passes"] if not p["warm"]]
    out = {k: (statistics.median(r[k][0] for r in rows), u) for k, (_, u) in rows[0].items()}
    out["stores.build_s"] = (h["store_build_s"], "s")
    return out


def spans_with_self_time(h, trace):
    """Every span (harness, job, stage, action) with parent and self time."""
    ix = Index(h, trace)
    out = [dict(s) for s in trace["spans"]]
    for j in ix.jobs:
        q = ix.query_of_job(j)
        ph = ix.phase_span.get((q["id"], j["phase"])) if q else None
        out.append({"id": f"job{j['id']}", "parent": ph["id"] if ph else None, "kind": "job",
                    "name": j["group"], "start": j["start"], "end": j["end"]})
        for s in ix.job_stages[j["id"]]:
            out.append({"id": f"stage{s['id']}", "parent": f"job{j['id']}", "kind": "stage",
                        "name": str(s["id"]), "start": s["submit"], "end": s["complete"]})
    for n, a in enumerate(ix.actions):
        parent = a["query"]
        if parent is not None:
            parent = next((ix.phase_span[(parent, k)]["id"] for k in PHASES
                           if (parent, k) in ix.phase_span
                           and ix.phase_span[(parent, k)]["start"] <= a["start"]
                           <= ix.phase_span[(parent, k)]["end"]), parent)
        out.append({"id": f"action{n}", "parent": parent, "kind": "action:" + a["func"],
                    "name": "pin" if a["pin_session"] else "root",
                    "start": a["start"], "end": a["end"]})
    kids = {}
    for s in out:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in out:
        s["self_ms"] = (s["end"] - s["start"]) - _union(kids.get(s["id"], []), s["start"], s["end"])
    return out


def detail(h, trace, w, workload, seed, attempted, failed, mismatches):
    """The per-run detail file: passes with their noise record, and per query
    its execution times plus, when traced, its phase times and Spark work."""
    timed = {p["pass"] for p in h["passes"] if not p["warm"]}
    per_q = {q: {"wall_s": [], "failed": 0} for q in w["queries"]}
    for e in h["execs"]:
        if e["pass"] in timed:
            per_q[e["name"]]["wall_s"].append(e["wall_s"])
            per_q[e["name"]]["failed"] += not e["ok"]
    if trace is not None:
        ix = Index(h, trace)
        for q, d in per_q.items():
            runs = []
            for p in sorted(timed):
                qs = ix.query_span.get((p, q))
                if qs is None:
                    continue
                jobs = [j for j in ix.jobs if ix.query_of_job(j) is qs]
                stages = [s for j in jobs for s in ix.job_stages[j["id"]]]
                r = {k + "_s": (ix.phase_span[(qs["id"], k)]["end"] - ix.phase_span[(qs["id"], k)]["start"]) / 1000
                     for k in PHASES if (qs["id"], k) in ix.phase_span}
                r.update(jobs=len(jobs), build_jobs=sum(j["phase"] == "build" for j in jobs),
                         task_s=sum(s["run_ms"] for s in stages) / 1000,
                         shuffle_write_mb=sum(s["shuffle_write_b"] for s in stages) / MB,
                         shuffle_read_mb=sum(s["shuffle_read_b"] for s in stages) / MB,
                         pin_collects=sum(a["query"] == qs["id"] and a["pin_session"]
                                          and a["func"] == "collect" for a in ix.actions))
                runs.append(r)
            if runs:
                d.update({k: statistics.median(r.get(k, 0) for r in runs) for k in runs[0]})
    prev = None
    passes = []
    for p in h["passes"]:
        passes.append(dict(p, steal_ticks_delta=None if prev is None else p["steal_ticks"] - prev))
        prev = p["steal_ticks"]
    return {"workload": workload, "seed": seed, "traced": trace is not None,
            "setup_s": (h["setup_end"] - h["jvm_start"]) / 1000 - h["store_build_s"],
            "store_build_s": h["store_build_s"], "cores": h["cores"], "clients": h["clients"],
            "attempted": attempted, "failed": failed, "mismatches": mismatches,
            "latency_samples": sum(len(d["wall_s"]) for d in per_q.values()),
            "passes": passes, "queries": per_q}
