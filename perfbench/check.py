"""Output checks for the benchmark's workloads.

Each check reads the program's outputs (parquet written by the
benchmark process outside the timed window) and compares them with a
computation made apart from the program: DuckDB running the registry's
oracle SQL on the same generated tables, numpy/Python re-computations
of the graph methods, and the structure the generator planted
(``truth.json``). Nothing is compared against stored program output;
every expected value is derived from the seed's inputs at check time.

Self-test, showing every check fails on a corrupted output:

    python3 perfbench/check.py selftest <workload> <seed>

(run after a benchmark run of that workload and seed).
"""
import json
import math
import os
import sys
from collections import defaultdict

import duckdb
import numpy as np
import pandas as pd

LN2 = math.log(2.0)
EPS = 1e-6


def canon(df):
    """Column-name order, normalised dtypes, sorted rows (as tools/check.py)."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if str(df[c].dtype).startswith(("int", "uint", "Int")):
            df[c] = df[c].astype("int64")
        elif str(df[c].dtype).startswith("float"):
            df[c] = df[c].astype("float64").round(9)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def parity(name, got, sql, con):
    want = canon(con.sql(sql).df())
    got = canon(got)
    if list(got.columns) != list(want.columns):
        return [f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    try:
        pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False,
                                      rtol=0, atol=1e-9)
    except AssertionError as e:
        return [f"{name}: differs from the oracle: {str(e)[:300]}"]
    return []


def in_range(name, df, cols, lo, hi):
    bad = [c for c in cols if ((df[c] < lo - EPS) | (df[c] > hi + EPS)).any()]
    return [f"{name}: {c} outside [{lo}, {hi}]" for c in bad]


# ───────────────────────── audit_cold ─────────────────────────

def audit_checks(truth, con, oracle):
    models = sorted(truth["models"])
    derived = {tuple(sorted(p)) for p in truth["derived_pairs"]}

    def oracle_parity(o):
        # ma_fp_compare's cosine is ma_audit's llmmap_similarity, checked there
        return [p for q in sorted(oracle) if q != "ma_fp_compare"
                for p in parity(q, o[q], oracle[q], con)]

    def pairs(o):
        a = o["ma_audit"]
        want = {(x, y) for i, x in enumerate(models) for y in models[i + 1:]}
        got = list(zip(a.model_a, a.model_b))
        if len(got) != len(set(got)) or set(got) != want:
            return [f"ma_audit: {len(got)} rows, want one per model pair ({len(want)})"]
        return []

    def verdicts(o):
        a = o["ma_audit"]
        out = []
        for x, y, v in zip(a.model_a, a.model_b, a.verdict):
            if ((x, y) in derived) != (v == "likely_derived"):
                out.append(f"ma_audit: ({x}, {y}) verdict {v}, planted "
                           f"{'derived' if (x, y) in derived else 'independent'}")
        return out

    def ranges(o):
        return (in_range("ma_audit", o["ma_audit"],
                         ["llmmap_similarity", "dli_similarity", "avg_similarity"], 0, 1)
                + in_range("ma_fp_compare", o["ma_fp_compare"], ["similarity"], 0, 1)
                + in_range("ma_dli_compare", o["ma_dli_compare"],
                           ["similarity", "bigram_sim", "feature_cos"], 0, 1)
                + in_range("ma_dli_compare", o["ma_dli_compare"], ["js_divergence"], 0, LN2))

    def best_match(o):
        v = o["ma_verify"]
        return [f"ma_verify: {s} best match {b}, planted {truth['family'][s]}"
                for s, b in zip(v.source, v.best_match) if truth["family"].get(s) != b]

    def cka(o):
        c = o["ma_reef_cka"]
        got = {(int(a), int(b)): x for a, b, x in zip(c.label_a, c.label_b, c.cka)}
        out = in_range("ma_reef_cka", c, ["cka"], 0, 1)
        for a, b in truth["cka_one_pairs"]:
            if abs(got.get((a, b), -1.0) - 1.0) > 1e-5:
                out.append(f"ma_reef_cka: CKA({a}, {b}) = {got.get((a, b))}, planted 1")
        return out

    return [("oracle_parity", oracle_parity), ("one_row_per_pair", pairs),
            ("planted_verdicts", verdicts), ("ranges", ranges),
            ("verify_best_match", best_match), ("cka_planted", cka)]


def audit_mutations():
    def m_parity(o):
        o["ma_fingerprint"].iloc[0, 1] += 0.001
    def m_pairs(o):
        o["ma_audit"] = o["ma_audit"].iloc[1:]
    def m_verdict(o):
        o["ma_audit"].loc[:, "verdict"] = "likely_derived"
    def m_range(o):
        o["ma_dli_compare"].loc[0, "js_divergence"] = LN2 + 0.01
    def m_best(o):
        o["ma_verify"].loc[0, "best_match"] = "phi"
    def m_cka(o):
        o["ma_reef_cka"].loc[:, "cka"] = o["ma_reef_cka"]["cka"] * 0.9
    return {"oracle_parity": m_parity, "one_row_per_pair": m_pairs, "planted_verdicts": m_verdict,
            "ranges": m_range, "verify_best_match": m_best, "cka_planted": m_cka}


# ───────────────────────── iterate_loops ─────────────────────────

SUPP_OFFSET = 1_000_000_000


def union_find(edges):
    parent = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)  # root = smallest id
    comp = {x: find(x) for x in list(parent)}
    return comp


def part_supplier_graph(li):
    e0 = li[["l_partkey", "l_suppkey"]].drop_duplicates()
    src = e0.l_partkey.to_numpy()
    dst = e0.l_suppkey.to_numpy() + SUPP_OFFSET
    return np.concatenate([src, dst]), np.concatenate([dst, src])


def pagerank(src, dst, iters=10, damping=0.85):
    """Independent power iteration: r' = 0.15 + 0.85·Σ r/outdeg."""
    nodes, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s, d = inv[: len(src)], inv[len(src):]
    outdeg = np.bincount(s, minlength=len(nodes)).astype(float)
    r = np.ones(len(nodes))
    for _ in range(iters):
        r = (1 - damping) + damping * np.bincount(d, weights=r[s] / outdeg[s], minlength=len(nodes))
    return nodes, r


def loops_checks(truth, con, oracle, li, docs):
    src, dst = part_supplier_graph(li)

    def oracle_parity(o):
        # dd_clusters' recursive-reach oracle takes minutes in DuckDB on
        # this corpus; clusters_union_find checks it instead
        return [p for q in sorted(oracle) if q != "dd_clusters"
                for p in parity(q, o[q], oracle[q], con)]

    def pr_power(o):
        nodes, r = pagerank(src, dst)
        got = o["gr_pagerank"].set_index("node")["rank"]
        out = []
        if len(got) != len(nodes) or set(got.index) != set(nodes.tolist()):
            out.append(f"gr_pagerank: {len(got)} nodes, power iteration has {len(nodes)}")
        else:
            diff = np.abs(got.loc[nodes].to_numpy() - r).max()
            if diff > 2e-6:
                out.append(f"gr_pagerank: max |rank - power iteration| = {diff:.3g}")
        if abs(got.sum() - len(nodes)) > 1e-6 * len(nodes) + 1e-3:
            out.append(f"gr_pagerank: ranks sum to {got.sum():.6f}, not the node count {len(nodes)}")
        return out

    def clusters(o):
        e = o["dedup_edges"]
        words = dict(zip(docs.doc_id.tolist(), (t.split() for t in docs.text)))
        out = []
        for u, v in zip(e.u.tolist(), e.v.tolist()):
            a = {tuple(words[u][i:i + 3]) for i in range(len(words[u]) - 2)}
            b = {tuple(words[v][i:i + 3]) for i in range(len(words[v]) - 2)}
            if len(a & b) < 0.45 * len(a | b):
                out.append(f"dedup_edges: ({u}, {v}) has shingle Jaccard "
                           f"{len(a & b) / len(a | b):.3f}, below the 0.5 duplicate threshold")
                break
        comp = union_find(zip(e.u.tolist(), e.v.tolist()))
        size = defaultdict(int)
        for c in comp.values():
            size[c] += 1
        c = o["dd_clusters"]
        if set(c.doc_id.tolist()) != set(comp):
            out.append(f"dd_clusters: {len(c)} docs, duplicate edges touch {len(comp)}")
        for d_, k, n in zip(c.doc_id.tolist(), c.canonical_id.tolist(), c.cluster_size.tolist()):
            if comp.get(d_) != k or size[k] != n:
                out.append(f"dd_clusters: doc {d_} in ({k}, {n}), union-find gives "
                           f"({comp.get(d_)}, {size.get(comp.get(d_))})")
                break
        # an exact copy always shares the base's component; a near copy
        # does unless LSH missed every band, so its recall is held to 90%
        label = dict(zip(c.doc_id.tolist(), c.canonical_id.tolist()))
        near = found = 0
        for base, exact, *rest in truth["dup_groups"]:
            if label.get(base) is None or label.get(exact) != label[base]:
                out.append(f"dd_clusters: planted exact copy {exact} of {base} not in its "
                           f"component: {label.get(exact)} vs {label.get(base)}")
                break
            near += len(rest)
            found += sum(label.get(x) == label[base] for x in rest)
        if found < 0.9 * near:
            out.append(f"dd_clusters: {found} of {near} planted near copies share their "
                       f"base's component (LSH recall below 90%)")
        return out

    def kcore(o):
        q = li[li.l_quantity >= 45][["l_orderkey", "l_partkey"]].drop_duplicates()
        pairs = q.merge(q, on="l_orderkey")
        pairs = pairs[pairs.l_partkey_x != pairs.l_partkey_y]
        adj = defaultdict(set)
        for u, v in zip(pairs.l_partkey_x.tolist(), pairs.l_partkey_y.tolist()):
            adj[u].add(v)
        k = o["gr_kcore"]
        core = set(k.node.tolist())
        out = []
        for n, cd in zip(k.node.tolist(), k.core_deg.tolist()):
            inside = len(adj[n] & core)
            if inside < 2 or inside != cd:
                out.append(f"gr_kcore: node {n} has {inside} neighbours in the core, "
                           f"core_deg {cd} (k = 2)")
                break
        return out

    def lpa(o):
        comp = union_find(zip(src.tolist(), dst.tolist()))
        size = defaultdict(int)
        for c in comp.values():
            size[c] += 1
        lp = o["gr_lpa"]
        out = []
        for lab, n in zip(lp.label.tolist(), lp.n_members.tolist()):
            if lab not in comp or n > size[comp[lab]]:
                out.append(f"gr_lpa: label {lab} with {n} members is not a node of a "
                           f"component that large")
                break
        if lp.n_members.sum() != len(comp):
            out.append(f"gr_lpa: {lp.n_members.sum()} members, graph has {len(comp)} nodes")
        return out

    return [("oracle_parity", oracle_parity), ("pagerank_power_iteration", pr_power),
            ("clusters_union_find", clusters), ("kcore_degree", kcore), ("lpa_labels", lpa)]


def loops_mutations():
    def m_parity(o):
        o["gr_hits"].iloc[0, -1] += 0.001
    def m_pr(o):
        o["gr_pagerank"].loc[0, "rank"] += 0.01
    def m_cl(o):
        c = o["dd_clusters"]
        c.loc[c.index[-1], "canonical_id"] = c.doc_id.iloc[-1]
        o["dedup_edges"] = o["dedup_edges"].iloc[: len(o["dedup_edges"]) // 2]
    def m_kc(o):
        k = o["gr_kcore"]
        o["gr_kcore"] = pd.concat([k, pd.DataFrame({"node": [-1], "core_deg": [2]})],
                                  ignore_index=True).astype(k.dtypes.to_dict())
    def m_lpa(o):
        o["gr_lpa"].loc[0, "label"] = -5
    return {"oracle_parity": m_parity, "pagerank_power_iteration": m_pr,
            "clusters_union_find": m_cl, "kcore_degree": m_kc, "lpa_labels": m_lpa}


# ───────────────────────── entry points ─────────────────────────

def load(workload, data_dir, out_dir, res):
    with open(os.path.join(data_dir, "truth.json")) as f:
        truth = json.load(f)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    for t in ("documents", "embeddings", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t + '.parquet')}'")
    outputs = {n: pd.read_parquet(os.path.join(out_dir, n)) for n in sorted(os.listdir(out_dir))}
    oracle = res["oracle"]
    if workload == "audit_cold":
        checks = audit_checks(truth, con, oracle)
    else:
        checks = loops_checks(truth, con, oracle,
                              pd.read_parquet(os.path.join(data_dir, "lineitem.parquet")),
                              pd.read_parquet(os.path.join(data_dir, "documents.parquet")))
    return checks, outputs


def repeats(res):
    """Every timed repeat of a request returned the same checksum."""
    return [f"{t}: repeats returned different results {sorted(set(v))}"
            for t, v in res["checksums"].items() if len(set(v)) != 1]


def check(workload, data_dir, out_dir, res):
    checks, outputs = load(workload, data_dir, out_dir, res)
    problems = repeats(res)
    for _, fn in checks:
        problems += fn(outputs)
    return problems


def selftest(workload, seed):
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    corpus = {"audit_cold": "audit", "iterate_loops": "loops"}[workload]
    data_dir = os.path.join(root, ".bench_data", f"{corpus}-{seed}")
    run_dir = os.path.join(root, ".bench_out", f"{workload}-{seed}-t0")
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)
    checks, outputs = load(workload, data_dir, os.path.join(run_dir, "check"), res)
    mutations = audit_mutations() if workload == "audit_cold" else loops_mutations()
    ok = True
    for name, fn in checks:
        clean = fn({k: v.copy() for k, v in outputs.items()})
        bad = {k: v.copy() for k, v in outputs.items()}
        mutations[name](bad)
        caught = fn(bad)
        status = "ok" if not clean and caught else "BROKEN"
        ok &= status == "ok"
        print(f"{status:6} {name}: clean -> {len(clean)} problems; corrupted -> "
              f"{caught[0] if caught else 'not caught'}")
    bad_res = dict(res, checksums={t: v + ["0"] for t, v in res["checksums"].items()})
    caught = repeats(bad_res)
    ok &= bool(caught) and not repeats(res)
    print(f"{'ok' if caught else 'BROKEN':6} repeats: corrupted -> {caught[0] if caught else 'not caught'}")
    return 0 if ok else 1


if __name__ == "__main__":
    if len(sys.argv) == 4 and sys.argv[1] == "selftest":
        sys.exit(selftest(sys.argv[2], int(sys.argv[3])))
    print(__doc__)
    sys.exit(2)
