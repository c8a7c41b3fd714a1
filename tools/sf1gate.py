#!/usr/bin/env python3
"""The repeatable sf1-equivalent oracle gate (round 13, promoting the
round-12 one-off sweep of SURVEY 6.21 into a delta-gated runner).

Usage:
  python3 tools/sf1gate.py            # delta mode: re-verify every bench
                                      # head whose defining files changed
                                      # since the last recorded sweep
  python3 tools/sf1gate.py --all      # full 20-head sweep
  python3 tools/sf1gate.py --heads q48_embedding_neardup,...   # explicit

What it does, in order:
  1. materializes target/sf1eq via `sbt Test/runMain graft.ProfileSf1Data`
     if the directory is missing (deterministic from /root/testdata/sf0.1);
  2. runs the ENGINE on the selected heads:
     SPARK_GRAFT_QUERIES=<subset> graft.Verify target/sf1eq <out>;
  3. runs the ORACLE gate: tools/check.py target/sf1eq <out> --only
     <subset> --times (per-head DuckDB wall = the 6.21 cost column);
  4. on all-PASS, stamps bench/sf1eq_state.json with the current commit —
     the next delta run diffs against that stamp.

Delta rule: a head re-verifies when `git diff --name-only <stamp>..HEAD`
(plus uncommitted changes) touches any of its DEFINING files (operator
file + its query-family file, where the oracle SQL lives). Shared-infra
changes (functions/, plans/, sources/, Scale.scala, GraftSession) are
deliberately NOT fanned out automatically — after touching those, run
`--all` once; the stamp keeps that honest because the full sweep is the
only way to move it past such a commit (the gate prints a loud warning).

Oracle-cost budget (round-13 ask #6): q84 (~45 min) and q302 (~33 min)
carry deliberately-quadratic oracles; they are delta-gated-only — a full
`--all` sweep EXCLUDES them unless their files changed or they are named
via --heads, keeping the routine sweep wall under an hour.

NOT part of the shipped library (driver-side python is allowed for dev
tooling only).
"""
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STATE = os.path.join(REPO, "bench", "sf1eq_state.json")
SF1EQ = os.path.join(REPO, "target", "sf1eq")
OUT = os.path.join(REPO, "target", "sf1eq_out")

OPS = "src/main/scala/graft/operators"
QRY = "src/main/scala/graft/queries"

#: bench-head -> the files that define its semantics (operator + oracle).
HEADS = {
    "q27_dedup_minhash_lsh":    [f"{OPS}/Dedup.scala", f"{QRY}/DedupQueries.scala"],
    "q48_embedding_neardup":    [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q84_curation_pipeline":    [f"{OPS}/Curation.scala", f"{OPS}/Dedup.scala", f"{QRY}/CurationQueries.scala"],
    "q122_tfidf_pairs":         [f"{OPS}/TextAnalysis.scala", f"{QRY}/TextQueries.scala"],
    "q139_containment_search":  [f"{OPS}/Dedup.scala", f"{QRY}/DedupQueries.scala"],
    "q143_classifier_weights":  [f"{OPS}/Curation.scala", f"{QRY}/CurationQueries.scala"],
    "q147_capstone_v2":         [f"{OPS}/Curation.scala", f"{OPS}/Dedup.scala", f"{QRY}/CurationQueries.scala"],
    "q148_pq_ann":              [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q177_set_cover":           [f"{OPS}/Curation.scala", f"{QRY}/CurationQueries.scala"],
    "q190_textrank_keywords":   [f"{OPS}/TextAnalysis.scala", f"{QRY}/TextQueries.scala"],
    "q194_label_propagation":   [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q207_mutual_knn":          [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q210_cluster_stability":   [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q228_sketch_rollup":       [f"{OPS}/Events.scala", f"{QRY}/EventsQueries.scala"],
    "q231_margin_pairs":        [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q233_fs_linkage":          [f"{OPS}/Matching.scala", f"{QRY}/DedupQueries.scala"],
    "q243_knn_autodial":        [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q272_persisted_quantiles": [f"{OPS}/Events.scala", f"{QRY}/EventsQueries.scala"],
    "q290_lof_outliers":        [f"{OPS}/Similarity.scala", f"{QRY}/SimilarityQueries.scala"],
    "q302_containment_heaps":   [f"{OPS}/Dedup.scala", f"{QRY}/DedupQueries.scala"],
    # round-14: the lakehouse-maintenance block — defining files include
    # Scale.scala (also shared infra: these entries make the delta rule
    # cover Scale changes directly instead of relying on the warning)
    # and Multimodal.scala (the asset STORE feeds the doc-based heads).
    "q310_compaction_plan":     [f"{OPS}/Scale.scala", f"{OPS}/Multimodal.scala", f"{QRY}/ScaleQueries.scala"],
    "q311_layout_skipping":     [f"{OPS}/Scale.scala", f"{QRY}/ScaleQueries.scala"],
    "q313_compaction_keyed":    [f"{OPS}/Scale.scala", f"{OPS}/Multimodal.scala", f"{QRY}/ScaleQueries.scala"],
    "q316_compaction_execute":  [f"{OPS}/Scale.scala", f"{OPS}/Multimodal.scala", f"{QRY}/ScaleQueries.scala"],
}

#: deliberately-quadratic oracles: excluded from routine --all sweeps
#: (still delta-gated when their defining files change).
EXPENSIVE = {"q84_curation_pipeline": "~45 min DuckDB",
             "q302_containment_heaps": "~33 min DuckDB"}

SHARED_INFRA = ("src/main/scala/graft/functions/",
                "src/main/scala/graft/plans/",
                "src/main/scala/graft/sources/",
                f"{OPS}/Scale.scala",
                "src/main/scala/graft/GraftSession.scala")


def sh(cmd, **kw):
    print(f"[sf1gate] $ {' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, cwd=REPO, **kw)


def changed_files(since):
    diff = subprocess.run(["git", "diff", "--name-only", f"{since}..HEAD"],
                          cwd=REPO, capture_output=True, text=True)
    dirty = subprocess.run(["git", "status", "--porcelain"],
                           cwd=REPO, capture_output=True, text=True)
    files = set(diff.stdout.split())
    files |= {line[3:] for line in dirty.stdout.splitlines() if len(line) > 3}
    return files


def main(argv):
    explicit = None
    if "--heads" in argv:
        explicit = argv[argv.index("--heads") + 1].split(",")
        unknown = sorted(set(explicit) - set(HEADS))
        if unknown:
            print(f"[sf1gate] unknown heads: {unknown}")
            return 1
    full = "--all" in argv

    if explicit is not None:
        heads = explicit
    elif full:
        heads = [h for h in HEADS if h not in EXPENSIVE]
        print(f"[sf1gate] --all sweep (expensive-oracle heads excluded: "
              f"{sorted(EXPENSIVE)}; name them via --heads to include)")
    else:
        state = json.load(open(STATE)) if os.path.exists(STATE) else {}
        stamp = state.get("last_sweep_commit")
        if not stamp:
            print("[sf1gate] no sweep stamp yet - run --all once first")
            return 1
        files = changed_files(stamp)
        infra = sorted(f for f in files if f.startswith(SHARED_INFRA))
        if infra:
            print(f"[sf1gate] WARNING: shared-infra files changed since "
                  f"{stamp[:10]}: {infra}\n[sf1gate] those do NOT fan out "
                  f"automatically - run --all after infra changes")
        heads = sorted(h for h, deps in HEADS.items()
                       if any(d in files for d in deps))
        if not heads:
            print(f"[sf1gate] delta empty: no head files changed since "
                  f"{stamp[:10]} - nothing to re-verify")
            return 0
        print(f"[sf1gate] delta since {stamp[:10]}: {heads}")
        slow = [h for h in heads if h in EXPENSIVE]
        if slow:
            print(f"[sf1gate] note: delta includes expensive oracles "
                  f"{ {h: EXPENSIVE[h] for h in slow} }")

    if not os.path.isdir(SF1EQ):
        print("[sf1gate] target/sf1eq missing - materializing (~2 min)")
        r = sh(["sbt", "-batch", "Test/runMain graft.ProfileSf1Data"])
        if r.returncode != 0:
            return r.returncode

    subset = ",".join(heads)
    sh(["rm", "-rf", OUT])
    env = dict(os.environ, SPARK_GRAFT_QUERIES=subset)
    r = sh(["sbt", "-batch", f"runMain graft.Verify {SF1EQ} {OUT}"], env=env)
    if r.returncode != 0:
        print("[sf1gate] engine run failed")
        return r.returncode

    r = sh(["python3", "tools/check.py", SF1EQ, OUT,
            "--only", subset, "--times"])
    if r.returncode != 0:
        print("[sf1gate] ORACLE GATE FAILED at sf1eq - fix before stamping")
        return r.returncode

    if explicit is None:
        head_sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=REPO,
                                  capture_output=True, text=True).stdout.strip()
        os.makedirs(os.path.dirname(STATE), exist_ok=True)
        json.dump({"last_sweep_commit": head_sha, "heads": heads},
                  open(STATE, "w"), indent=1)
        print(f"[sf1gate] PASS - stamped {head_sha[:10]} ({len(heads)} heads)")
    else:
        print(f"[sf1gate] PASS ({len(heads)} heads; --heads runs don't move "
              "the stamp)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
