"""One-time maintenance tool: pick the query lists and record the
expected result digests.

    python3 perfbench/make_expected.py [survey.json]

1. Survey: time every registered query once cold and once warm on the
   generated sf0.01 tables, with the jobs its builder launches (skipped
   when a survey file is given). The survey is kept in
   expected/survey.json.
2. interactive_mix: queries with a DuckDB oracle whose builder launches
   at most 3 jobs and whose cold time is under 1 s, excluding the
   shared-memo consumers and the iterative_heavy set: q_ab_test and
   q_anti_join, which the layer attribution checks name, plus the 38
   shortest by warm time.
3. Dump each picked query's result twice; keep the digest only when
   both dumps agree, and only for queries whose result matches the
   DuckDB oracle over the same tables (the engine's
   tools/oracle_compare.py check).
4. Write queries.json and expected/digests.json.

Run it from a checkout root, and again whenever the query registry, the
table generator or the digest changes.
"""
import json
import os
import re
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

ITERATIVE = ["q_hits", "q_pagerank", "q_trustrank", "q_pq_trained", "q_mv_refresh",
             "q_merge_cow", "q_delete_dv", "q_zorder_box", "q_kcore", "q_sssp"]
# queries that read a memo the engine's bench builds before its window
SHARED_MEMO = {
    "q_minhash_lsh", "q_ngram_jaccard", "q_dedup_pipeline", "q_dup_components",
    "q_dedup_weights", "q_leak_split", "q_survivorship", "q_dedup_exact",
    "q_substring_dedup", "q_semdedup", "q_pagerank", "q_trustrank", "q_bfs", "q_sssp",
    "q_hits", "q_kcore", "q_triangles", "q_clustering", "q_modularity", "q_assortativity",
    "q_adamic_adar", "q_adamic_adar_capped", "q_adamic_adar_capstats", "q_degree_dist",
    "q_conductance", "q_labelprop", "q_hyperball", "q_harmonic", "q_dbscan",
    "q_ivfpq_indexed", "q_ivfpq_layout"}
INTERACTIVE_SIZE = 40
MUST_HAVE = ["q_ab_test", "q_anti_join"]


def jvm(cp, args, work):
    os.makedirs(work, exist_ok=True)
    return run.run_jvm(cp, dict(args, work=os.path.join(work, "w"), cores=run.CORES,
                                out=os.path.join(work, "out.json")), work)


def pick(survey):
    ok = sorted((q for q, r in survey.items()
                 if "error" not in r and r["oracle"] and r["cold"]["builder_jobs"] <= 3
                 and r["cold"]["ms"] < 1000 and q not in SHARED_MEMO and q not in ITERATIVE),
                key=lambda q: survey[q]["warm"]["ms"])
    must = [q for q in MUST_HAVE if q in ok]
    rest = [q for q in ok if q not in must]
    return must + rest[:INTERACTIVE_SIZE - len(must)], must + rest


def oracle_pass(dump, tables):
    r = subprocess.run([sys.executable, os.path.join(run.ROOT, "tools", "oracle_compare.py"), dump, tables],
                       capture_output=True, text=True)
    sys.stderr.write(r.stdout[-3000:])
    return set(re.findall(r"^PASS (\S+)", r.stdout, re.M))


def main():
    cp = run.build()
    tables = run.tables_dir()
    scratch = os.path.join(run.BUILD, "make-expected")
    shutil.rmtree(scratch, ignore_errors=True)
    if len(sys.argv) > 1:
        with open(sys.argv[1]) as f:
            survey = json.load(f)["survey"]
    else:
        survey = jvm(cp, {"workload": "survey", "data": tables}, os.path.join(scratch, "survey"))["survey"]
    os.makedirs(os.path.join(HERE, "expected"), exist_ok=True)
    with open(os.path.join(HERE, "expected", "survey.json"), "w") as f:
        json.dump({"survey": survey}, f, indent=0, sort_keys=True)
    chosen, eligible = pick(survey)
    # spares in warm-time order replace any pick that fails the checks
    candidates = eligible[:len(chosen) + 15]
    names = candidates + ITERATIVE
    dumps = []
    for i in range(2):
        d = os.path.join(scratch, f"digests{i}")
        dumps.append((d, jvm(cp, {"workload": "digests", "data": tables, "queries": ",".join(names)}, d)))
    passed = oracle_pass(os.path.join(dumps[0][0], "w", "dump"), tables)
    digests = {}
    for q in names:
        a, b = dumps[0][1]["digests"][q], dumps[1][1]["digests"][q]
        if a == b and not a.startswith("error") and q in passed:
            digests[q] = a
        else:
            print(f"dropped {q}: oracle {'pass' if q in passed else 'FAIL'}, stable {a == b}",
                  file=sys.stderr)
    missing = [q for q in ITERATIVE if q not in digests]
    if missing:
        sys.exit(f"iterative_heavy queries without a verified digest: {missing}")
    interactive = [q for q in candidates if q in digests][:INTERACTIVE_SIZE]
    if not all(q in interactive for q in MUST_HAVE):
        sys.exit(f"{MUST_HAVE} must all be in interactive_mix")
    with open(os.path.join(HERE, "queries.json"), "w") as f:
        json.dump({"interactive_mix": sorted(interactive), "iterative_heavy": ITERATIVE}, f, indent=1)
    with open(os.path.join(HERE, "expected", "digests.json"), "w") as f:
        json.dump({q: digests[q] for q in sorted(set(interactive) | set(ITERATIVE))}, f, indent=1,
                  sort_keys=True)
    shutil.rmtree(scratch, ignore_errors=True)
    print(f"interactive_mix {len(interactive)} queries, iterative_heavy {len(ITERATIVE)}")


if __name__ == "__main__":
    main()
