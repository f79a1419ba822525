"""Plan-quality audit: dump formatted physical plans for every registered
query and assert scale-critical properties.

Usage: python tools/explain_audit.py [sf_dir] [query ...]

Writes EXPLAIN.md at the repo root with one section per query:
- the formatted physical plan (sf0.1 stats so AQE/broadcast decisions are
  realistic),
- automated checks: predicate pushdown reached the scan (PushedFilters),
  column pruning (ReadSchema width vs table width), no CartesianProduct
  (unless the query is an intentional pair-join), broadcast joins present
  where hinted.
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from emr_apache_iceberg_workshop_spark.plans.registry import registry  # noqa: E402
from emr_apache_iceberg_workshop_spark.session import build_session  # noqa: E402

# Queries where an O(n²) pair join (BroadcastNestedLoop / Cartesian) is the
# intended algorithm (brute-force correctness baseline, by definition).
# d_simhash and d_embedding_neardup are NOT here: their candidate steps are
# banded/blocked equi-joins and a BNLJ in their plan is a regression.
PAIR_JOIN_OK = {
    "s_cosine_topk",
    # round-5: the quantized tier joins the corpus stream against the
    # same fixed 5-id query set (q_id <> vec_id non-equi) — the bounded
    # pair-join shape, broadcast side constant at any corpus scale
    "s_quantized_topk",
    # round-8: the JL projection grader joins the corpus stream against
    # the fixed 5-id query set (q_id <> vec_id) — same bounded shape
    "s_rp_quality",
    # round-9: the recall grader's ground-truth leg IS s_cosine_topk's
    # brute-force pair join (fixed 5-id broadcast query set) by design
    "s_ann_recall",
}

# Queries whose BNLJ is a 1-row scalar-aggregate broadcast (HAVING > scalar
# subquery) — the correct physical plan for a scalar threshold: the single
# aggregated row is broadcast and streamed against, no shuffle.
SCALAR_BROADCAST_OK = {
    "q11_important_stock",
    "q15_top_supplier",
    "q20_heavy_shippers",
    # round-3: q22's scalar avg-balance subquery was unified from a driver
    # .collect() to the same 1-row broadcast-crossJoin form as the above
    "q22_global_sales_opportunity",
    # round-4: unigram-LM scorer joins every token row against the 1-row
    # (total tokens, vocab size) aggregate — same scalar-broadcast shape
    "t_unigram_logprob",
    # round-12: the store-backed LM gate and BM25 twins carry the same
    # 1-row scalar crossJoins (corpus totals / BM25 stats) as their
    # refit originals
    "t_incremental_lm",
    "t_incremental_bm25",
    # round-8: the bigram scorer's add-k smoothing crossJoins the 1-row
    # vocabulary-size aggregate (textops.py `vsz`) — same scalar shape
    "t_bigram_logprob",
    # round-8: temperature mixing crossJoins the 1-row corpus-totals
    # aggregate (curation.py `tot`) to turn per-source counts into
    # sampling probabilities — same scalar shape
    "c_temperature_mix",
    # round-8: BM25 crossJoins the 1-row (n_docs, avgdl) corpus-stats
    # aggregate (textops.py `stats`) — same scalar shape
    "t_bm25_topk",
    # round-8: ccnet bucketing crossJoins two 1-row scalars (the doc
    # count `n_row` and the tercile-cutoff pair `cuts`) — same shape
    "t_ccnet_buckets",
    # round-5: the bloom bit-array is a 1-row O(m/64)-word aggregate
    # crossJoin-broadcast into the big side's scan stage — the runtime-
    # filter shape; the membership predicate itself is scan-side codegen
    "q_bloom_join",
    # round-5: the cherry-pick query annotates the 5-row fixture state
    # with two 1-row COUNT aggregates (current and pre-pick row counts)
    # via scalar crossJoin broadcasts
    "q_meta_cherrypick",
    # round-9: the heavy-hitter merge threshold crossJoins the 1-row
    # global token count (textops.py `n_tot`) — same scalar shape; the
    # candidate semi-join itself is a bounded BroadcastHashJoin
    "t_heavy_hitters",
    # round-9: the epoch shuffle crossJoins the 3-row epoch constant
    # (curation.py `epochs`, fixed at any corpus scale) — bounded side
    "c_epoch_shuffle",
}

# ---------------------------------------------------------------------------
# Broadcast-hint lint: every F.broadcast(...) call site in the package must
# feed from a PROVABLY BOUNDED input — a constant-size dimension (region /
# nation: 5 / 25 rows at ANY scale factor), a 1-row scalar aggregate, or a
# fixed-size id-list filter. A hint on anything that grows with the corpus
# forces an OOM at scale that AQE would never choose (AQE's runtime size
# check is the correct mechanism for "small today" tables — those joins
# stay UNhinted). The allowlist maps file -> root identifiers allowed as
# the broadcast argument; anything else fails the audit.
BROADCAST_HINT_ALLOWED = {
    "plans/profiling.py": {
        # q_ntile_deciles rank offsets: one row per RANGE PARTITION of the
        # two-phase global rank (P = spark.sql.shuffle.partitions), a
        # cluster-config constant at any data scale
        "pid_offsets",
    },
    "plans/tpch.py": {
        't["region"]',  # 5 rows at any SF
        't["nation"]',  # 25 rows at any SF
        "nat", "n1", "n2", "cust_nat", "supp_nat",  # nation-derived (<=25 rows)
        "avg_bal", "total", "mx", "avg_qty",  # 1-row scalar aggregates
    },
    "plans/dedup.py": {
        # touched-fingerprint prune set for the incremental SimHash
        # verdict tier: bounded by |batch fingerprints| x 5489 (the
        # hamming<=3 ball size in 32-bit fingerprint space, C(32,0..3)),
        # corpus-size-free at ANY store scale — see simhash_batch_verdicts
        "tfp",
        # one row per batch fingerprint/signature (groupBy over the
        # candidate pair set) — bounded by the batch, never by the store
        "cross_agg",
        # the batch's distinct (band_idx, band_key) set: <= N_BANDS x
        # |batch| rows at ANY store scale (minhash_batch_verdicts prune)
        "bb",
        # the batch's distinct signature keys: <= |batch| rows
        "bsk",
        # second-min ids grouped from the batch-signature slice:
        # <= |batch signatures| rows at any store scale
        "m2",
        # cluster CDC kernel (_cluster_cdc): `alb` is the label set of the
        # batch keys and of the batch edges' endpoints, ids probe-collected
        # under 2 x _CLUSTER_LOCAL_MAX — one label per id; in the
        # distributed fallback `affected` (one label per batch key) and
        # `touched` (one label per batch-edge endpoint) are the same kind
        # of set, bounded by the batch and its candidate pairs
        "alb", "affected", "touched",
    },
    "plans/similarity.py": {
        "q",  # fixed 5-id query set (QUERY_FILTER bounds it at any SF)
        "qs",  # the same fixed query set, quantized tier
        # O(K·d) centroid table (assign_clusters big-K path) — bounded by
        # the k-means centroid count, the same driver-state bound as the
        # inline-literal assignment it replaces; never grows with corpus
        "cdf",
    },
    "plans/textops.py": {
        "tot",  # 1-row scalar aggregate (total token count + vocab size)
        "vsz",  # 1-row scalar aggregate (bigram-LM vocabulary size)
        "idf",  # <=|Q| rows: grouped by the FIXED BM25 query-term set
        "stats",  # 1-row scalar aggregate (BM25 corpus n_docs + avgdl)
        "cuts",  # 1-row cutoff pair (ccnet tercile order statistics)
        "n_row",  # 1-row scalar aggregate (ccnet corpus doc count)
        "n_tot",  # 1-row scalar aggregate (heavy-hitter global token count)
        # merged Misra-Gries survivors: provably <= _HH_CAPACITY rows at
        # ANY corpus scale (each survivor's merged local-count sum exceeds
        # N/CAPACITY and the sums total <= N)
        "hh_cand",
    },
    "plans/curation.py": {
        "tot",  # 1-row scalar aggregate (corpus doc count + sqrt-weight sum)
    },
    "plans/bucketed.py": {
        "bf_row",  # 1-row bloom bit-array (O(BLOOM_BITS/64) words, corpus-size-free)
    },
    "tables.py": {
        "stats",  # 1-row per-column min/max aggregate (z-order scaling)
    },
    "plans/tablemeta.py": {
        "n_now", "n_before",  # 1-row COUNT aggregates over the fixture
        # O(snapshot-count) driver-built rows: the emitted-metadata summary
        # table is one row per snapshot in metadata.json, bounded by the
        # table's snapshot retention policy (expire_snapshots), never by
        # corpus size
        "emdf",
    },
}


# ---------------------------------------------------------------------------
# Single-partition-window lint (round 15): `Exchange SinglePartition`
# feeding a Window (directly or through its Sort) funnels the ENTIRE input
# relation through one reducer — the canonical 100 TB bottleneck. The class
# shipped unflagged for fourteen rounds (q_ntile_deciles' global NTILE, r14
# VERDICT What's-wrong #1/#2). Every occurrence must be on this allowlist
# with a boundedness proof: the window's input must be provably small at
# ANY data scale.
SINGLE_PARTITION_WINDOW_OK = {
    # cumulative bucket window runs over the DISTINCT quality scores only
    # (integer score grid, |scores| << n_docs) — plans/textops.py:1127
    "t_ccnet_buckets": "distinct-score histogram (bounded score grid)",
    # share-of-total window runs over the <=6-row verdict aggregate (one
    # row per funnel rule) — plans/curation.py c_quality_funnel
    "c_quality_funnel": "<=6-row funnel-verdict aggregate",
    # global-rank offset window runs over the P-row per-range-partition
    # count relation, P = spark.sql.shuffle.partitions (cluster config,
    # not data) — plans/profiling.py _ntile_buckets
    "q_ntile_deciles": "P-row range-partition count relation",
}


def _plan_tree(plan: str) -> list[tuple[int, str, int]]:
    """Parse the tree header of a formatted plan into (indent, op, node_id)."""
    nodes = []
    for line in plan.splitlines():
        m = re.match(r"^([:\s+\-*]*)([A-Za-z][A-Za-z0-9_ ]*?) \((\d+)\)\s*$", line)
        if m:
            nodes.append((len(m.group(1)), m.group(2).strip(), int(m.group(3))))
    return nodes


def lint_single_partition_window(name: str, plan: str) -> list[str]:
    """Flag Exchange SinglePartition nodes whose consumer (skipping the
    window's own Sort) is a Window, unless `name` carries a boundedness
    proof in SINGLE_PARTITION_WINDOW_OK."""
    sp_ids = set()
    for m in re.finditer(
        r"\((\d+)\) Exchange[^\n]*\n((?:(?!\(\d+\) )[^\n]*\n?)*)", plan
    ):
        if "SinglePartition" in m.group(2):
            sp_ids.add(int(m.group(1)))
    if not sp_ids:
        return []
    nodes = _plan_tree(plan)
    notes = []
    for i, (indent, _op, nid) in enumerate(nodes):
        if nid not in sp_ids:
            continue
        chain, cur = [], indent
        j = i - 1
        while j >= 0 and len(chain) < 3:
            pi, pop, _pid = nodes[j]
            if pi < cur:
                chain.append(pop)
                cur = pi
            j -= 1
        feeds_window = bool(chain) and (
            "Window" in chain[0]
            or (chain[0].startswith("Sort") and len(chain) > 1 and "Window" in chain[1])
        )
        if feeds_window:
            if name in SINGLE_PARTITION_WINDOW_OK:
                notes.append(
                    "OK bounded single-partition window: "
                    + SINGLE_PARTITION_WINDOW_OK[name]
                )
            else:
                notes.append(
                    f"FAIL sp-window: Exchange SinglePartition (node {nid}) feeds "
                    f"{' <- '.join(chain[:2])} — full relation through one reducer; "
                    "allowlist requires a boundedness proof"
                )
    return notes


def lint_broadcast_hints(pkg_root: str) -> list[str]:
    """Grep the package for F.broadcast call sites and validate each
    argument's root expression against BROADCAST_HINT_ALLOWED."""
    fails: list[str] = []
    for dirpath, _dirs, files in os.walk(pkg_root):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, pkg_root)
            allowed = BROADCAST_HINT_ALLOWED.get(rel, set())
            with open(path) as f:
                for lineno, line in enumerate(f, 1):
                    for m in re.finditer(r"F\.broadcast\(\s*([^\s,)]+)", line):
                        arg = m.group(1)
                        root = re.match(r'\w+(\["\w+"\])?|\w+', arg)
                        root_txt = root.group(0) if root else arg
                        if root_txt not in allowed and arg not in allowed:
                            fails.append(
                                f"FAIL broadcast-hint: {rel}:{lineno} hints "
                                f"F.broadcast({arg}...) — not in the bounded-input "
                                f"allowlist for this file"
                            )
    return fails


def plan_text(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def audit(name: str, plan: str) -> list[str]:
    notes = []
    scans = re.findall(r"Scan parquet.*", plan)
    pushed = re.findall(r"PushedFilters: \[(.*?)\]", plan)
    if any(p.strip() for p in pushed):
        notes.append(f"OK pushdown: {sum(1 for p in pushed if p.strip())} scan(s) with PushedFilters")
    read_schemas = re.findall(r"ReadSchema: struct<(.*?)>", plan)
    for rs in read_schemas:
        ncols = len(rs.split(",")) if rs else 0
        if ncols:
            notes.append(f"OK pruning: scan reads {ncols} col(s)")
    if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
        if name in PAIR_JOIN_OK:
            tag = "OK (intended pair join)"
        elif name in SCALAR_BROADCAST_OK:
            tag = "OK (1-row scalar-aggregate broadcast)"
        else:
            tag = "WARN"
        notes.append(f"{tag}: non-equi join present (Cartesian/BNLJ)")
    for j in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin"):
        c = plan.count(f"({j}")  # node headers
        c = c or plan.count(j)
        if j in plan:
            notes.append(f"join: {j} x{len(re.findall(j, plan)) // 2 or 1}")
    notes.extend(lint_single_partition_window(name, plan))
    ids = {m for m in re.findall(r"\[codegen id : (\d+)\]", plan)}
    notes.append(f"whole-stage codegen spans: {len(ids)}")
    if f"Scan parquet" not in plan:
        notes.append("NOTE: no parquet scan node (derived-only plan?)")
    _ = scans
    return notes


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    only = set(sys.argv[2:])
    # AQE off for the audit only: adaptive plans print as unresolved
    # AdaptiveSparkPlan stubs (no codegen ids / final join strategy) until
    # executed; the static plan shows what Catalyst would do and codegen
    # span boundaries. Production sessions keep AQE on.
    pkg_root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "emr_apache_iceberg_workshop_spark",
    )
    hint_fails = lint_broadcast_hints(pkg_root)
    for f_ in hint_fails:
        print(f_)

    spark = build_session("eiws-explain-audit")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    reg = registry()
    out = ["# EXPLAIN audit — formatted physical plans\n",
           f"Generated by tools/explain_audit.py at {sf_dir}.\n",
           "\nBroadcast-hint lint: "
           + ("**FAILED**\n" + "\n".join(f"- {f_}" for f_ in hint_fails) + "\n"
              if hint_fails else "OK — every F.broadcast hint feeds a bounded input "
              "(constant dims, 1-row scalars, fixed query sets).\n")]
    errored: list[str] = []
    sp_fails: list[str] = []
    for name, spec in sorted(reg.items()):
        if only and name not in only:
            continue
        try:
            df = spec.fn(spark, sf_dir)
            plan = plan_text(df)
            notes = audit(name, plan)
            sp_fails.extend(f"{name}: {n}" for n in notes if n.startswith("FAIL sp-window"))
        except Exception as exc:  # pragma: no cover
            plan, notes = f"ERROR: {exc}", ["ERROR"]
            errored.append(name)
        print(f"== {name}")
        for n in notes:
            print(f"   {n}")
        out.append(f"\n## {name}\n\n" + "\n".join(f"- {n}" for n in notes)
                   + "\n\n```\n" + plan.strip() + "\n```\n")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "EXPLAIN.md"), "w") as f:
        f.write("".join(out))
    print(f"\nwrote EXPLAIN.md ({len(out) - 3} plans)")
    if errored:
        # A plan that fails to BUILD under this audit session (AQE off,
        # static analysis) is a shipped defect, not a lint nit — r13's
        # cluster tier shipped three ERROR stubs under a "lints green"
        # commit because only hint_fails set the exit code (r13 VERDICT
        # What's wrong #2). No allowlist: every registered query must
        # produce a real plan.
        print("ERROR plans (audit FAILED): " + ", ".join(sorted(errored)))
        raise SystemExit(1)
    if sp_fails:
        # An unallowlisted single-partition window is a shipped scale
        # defect of the same class the r14 verdict flagged — hard fail.
        print("single-partition-window lint FAILED:")
        for f_ in sp_fails:
            print(f"  {f_}")
        raise SystemExit(1)
    if hint_fails:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
