"""Roll traced benchmark runs up into a workload x layer table.

    python3 perfbench/rollup.py <result.json> [<result.json> ...] [--by-query]

Each argument is a raw result file that run.py leaves under
.bench_build/results/ (`<workload>-seed<n>-trace<t>.json`); a traced one
has its spans next to it in `<file>.spans.jsonl`. For every traced run
the table gives, per traced operation, each layer's self time (span
time not covered by child spans) and the job, stage and task counts.
When an untraced result of the same workload and seed is among the
arguments, the tracing overhead is shown as the traced minus the
untraced median operation time. `--by-query` adds one row per query:
where did q_x's time go?
"""
import json
import os
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402

LAYERS = ["query", "builder", "catalyst", "exec", "job", "stage",
          "etl", "pipelines", "stream", "streaming"]


def load(path):
    with open(path) as f:
        raw = json.load(f)
    spans = []
    if os.path.exists(path + ".spans.jsonl"):
        with open(path + ".spans.jsonl") as f:
            spans = [json.loads(ln) for ln in f if ln.strip()]
    return raw, spans


def rollup(spans):
    """Per-operation self time per layer and counts, averaged over the
    traced operations (root spans)."""
    ops = max(1, sum(1 for s in spans if s["parent"] == 0))
    self_ms = stats.layer_self_times(spans)
    row = {layer: self_ms.get(layer, 0.0) / ops for layer in LAYERS}
    row["jobs"] = sum(1 for s in spans if s["name"] == "job") / ops
    row["tables_jobs"] = sum(1 for s in spans if s["name"] == "job" and s.get("tables")) / ops
    row["stages"] = sum(1 for s in spans if s["name"] == "stage") / ops
    row["tasks"] = sum(s.get("tasks", 0) for s in spans if s["name"] == "stage") / ops
    row["ops"] = ops
    return row


def by_query(spans):
    """{query: {layer self ms..., builder_jobs, tables_jobs}} averaged per execution."""
    roots = {s["trace"]: s for s in spans if s["name"] == "query"}
    per = {}
    st = stats.self_times(spans)
    for s in spans:
        root = roots.get(s["trace"])
        if root is None:
            continue
        q = per.setdefault(root["query"], {"n": set(), **{k: 0.0 for k in LAYERS},
                                           "builder_jobs": 0, "tables_jobs": 0})
        q["n"].add(s["trace"])
        q[stats.layer_of(s["name"])] += st[s["id"]]
        if s["name"] == "builder":
            q["builder_jobs"] += s.get("jobs", 0)
        if s["name"] == "job" and s.get("tables"):
            q["tables_jobs"] += 1
    out = {}
    for name, q in per.items():
        n = len(q.pop("n"))
        out[name] = {k: v / n for k, v in q.items()}
    return out


def fmt_table(header, rows):
    widths = [max(len(str(h)), *(len(c) for c in col)) for h, col in
              zip(header, zip(*rows))] if rows else [len(h) for h in header]
    line = lambda cells: "| " + " | ".join(str(c).rjust(w) for c, w in zip(cells, widths)) + " |"
    return "\n".join([line(header), "|" + "|".join("-" * (w + 2) for w in widths) + "|"]
                     + [line(r) for r in rows])


def main(argv):
    want_queries = "--by-query" in argv
    paths = [p for p in argv if not p.startswith("--")]
    runs = [(p, *load(p)) for p in paths]
    untraced = {(r["meta"]["workload"], r["meta"]["seed"]): r for _, r, _ in runs
                if not r["meta"]["trace"]}
    header = ["workload", "seed", "ops"] + [f"{l} ms" for l in LAYERS] + \
             ["jobs", "tables jobs", "stages", "tasks", "overhead ms"]
    rows = []
    for _, raw, spans in runs:
        m = raw["meta"]
        if not m["trace"]:
            continue
        r = rollup(spans)
        base = untraced.get((m["workload"], m["seed"]))
        over = (stats.median(raw["op_ms"]) - stats.median(base["op_ms"])) if base else None
        rows.append([m["workload"], str(m["seed"]), str(r["ops"])]
                    + [f"{r[l]:.1f}" for l in LAYERS]
                    + [f"{r[k]:.2f}" for k in ("jobs", "tables_jobs", "stages", "tasks")]
                    + ["-" if over is None else f"{over:.1f}"])
    print(fmt_table(header, rows))
    if want_queries:
        qh = ["query", "builder ms", "builder jobs", "tables jobs", "catalyst ms", "exec ms",
              "job ms", "stage ms", "query ms"]
        qrows = []
        for _, raw, spans in runs:
            if raw["meta"]["trace"]:
                for name, q in sorted(by_query(spans).items()):
                    qrows.append([name, f"{q['builder']:.1f}", f"{q['builder_jobs']:.1f}",
                                  f"{q['tables_jobs']:.1f}", f"{q['catalyst']:.1f}",
                                  f"{q['exec']:.1f}", f"{q['job']:.1f}", f"{q['stage']:.1f}",
                                  f"{q['query']:.1f}"])
        print()
        print(fmt_table(qh, qrows))


if __name__ == "__main__":
    main(sys.argv[1:])
