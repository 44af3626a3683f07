#!/usr/bin/env python3
"""End-of-round artifact regeneration, in dependency order, at one HEAD.

    python3 tools/round_snapshot.py [--bench] [--audit-100x]

Exists because the round-5/6 failure mode was ORDERING: an artifact
regenerated before the last registry edit (or an .md narrating an older
.json) ships numbers that disagree with HEAD. This chains every
regeneration AFTER the final code change, so one invocation leaves the
tree internally consistent:

1. `sbt test`                      — the whole suite must be green
2. `graft.DumpOracle`              — ORACLE_SQL.json from the registry AT HEAD
3. `graft.Verify` @ sf0.01 + check — the driver-gate stand-in, full registry
4. `tools/replica_audit.py` @ 10x  — multi-partition audit (AllTuples class)
5. (--audit-100x) bounded audit at the 100x replica
6. (--bench) `tools/benchscale.py` — regenerates BENCHSCALE.json AND its .md

Run it with a clean tree, then commit the artifacts it touched in one
snapshot commit. Anything red stops the chain (nothing later is stale).
"""
import argparse
import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))
from precommit import SOURCES, source_tree  # noqa: E402
VERIFY_OUT = "/tmp/graft-verify-snapshot"
SF = "/root/testdata/sf0.01"


def step(title, cmd, capture=False):
    print(f"\n[snapshot] === {title}: {' '.join(cmd)}", flush=True)
    if capture:
        r = subprocess.run(cmd, cwd=REPO, capture_output=True, text=True)
        sys.stdout.write(r.stdout[-3000:])
    else:
        r = subprocess.run(cmd, cwd=REPO)
    if r.returncode != 0:
        if capture:
            sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise SystemExit(f"[snapshot] STOP — '{title}' failed; artifacts "
                         "after this point were NOT regenerated")
    return r.stdout if capture else None


def render_readme_counts(n_specs, n_green, n_total):
    """Rewrite README's marked status block from MEASURED values — the
    hand-written counts drifted twice (r6 claimed 169/169 while HEAD had
    193 specs with 10 failing), so the only numbers the README states as
    current are the ones this snapshot just measured."""
    head = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=REPO,
                          capture_output=True, text=True).stdout.strip()
    tree = source_tree()
    begin, end = "<!-- counts:begin -->", "<!-- counts:end -->"
    tail = (
        "(every registry row is oracle-gated — the pruned-ANN rows replay "
        "their candidate sets in SQL since round 9; at-scale recall stays "
        "audited in RECALL_AUDIT_10x.json)."
        if n_total == n_green else
        f"({n_total - n_green} declared no-oracle pruned-ANN rows, "
        f"recall-gated in spec and audited at 10x — RECALL_AUDIT_10x.json).")
    block = "\n".join([
        begin,
        f"**Status at `{head}`, source tree `{tree}`** (auto-rendered by "
        f"`tools/round_snapshot.py` from the run's own outputs, "
        f"{time.strftime('%Y-%m-%d')}): "
        f"`sbt test` **{n_specs}/{n_specs}**; registry **{n_total}** queries, "
        f"**{n_green}** oracle-green vs DuckDB at sf0.01 " + tail,
        f"*These counts are valid ONLY for source tree `{tree}` (the git "
        f"tree of {', '.join(SOURCES)}) — once those sources change, every "
        f"artifact (ORACLE_SQL, audits, BENCHSCALE) is stale; "
        f"`tools/precommit.py` warns on this, `tools/round_snapshot.py` "
        f"clears it.*",
        end])
    p = REPO / "README.md"
    text = p.read_text()
    i, j = text.find(begin), text.find(end)
    if i < 0 or j < 0:
        raise SystemExit("counts markers missing in README.md")
    p.write_text(text[:i] + block + text[j + len(end):])
    print(f"[snapshot] README status block: specs {n_specs}, "
          f"registry {n_total}, green {n_green}", flush=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--bench", action="store_true",
                    help="also rerun tools/benchscale.py (minutes)")
    ap.add_argument("--audit-100x", action="store_true",
                    help="also run the bounded audit at /tmp/sfx100")
    ap.add_argument("--skip-tests", action="store_true",
                    help="skip sbt test (only if just run at this HEAD)")
    args = ap.parse_args()

    dirty = subprocess.run(["git", "status", "--porcelain"], cwd=REPO,
                           capture_output=True, text=True).stdout.strip()
    if dirty:
        print("[snapshot] WARNING: tree is dirty — artifacts will record "
              "HEAD but reflect the working tree:\n" + dirty, flush=True)

    n_specs = None
    if not args.skip_tests:
        out = step("sbt test", ["sbt", "-batch", "test"], capture=True)
        m = re.search(r"Tests: succeeded (\d+), failed 0", out)
        if not m:
            raise SystemExit("[snapshot] sbt test output unparseable/red")
        n_specs = int(m.group(1))
    step("oracle dump", ["sbt", "-batch", "runMain graft.DumpOracle ORACLE_SQL.json"])
    subprocess.run(["rm", "-rf", VERIFY_OUT], check=True)
    step("verify @ sf0.01",
         ["sbt", "-batch", f"runMain graft.Verify {SF} {VERIFY_OUT}"])
    chk = step("oracle check @ sf0.01",
               [sys.executable, "tools/check.py", SF, VERIFY_OUT],
               capture=True)
    mc = re.search(r"== (\d+) pass, (\d+) fail ==", chk)
    if not mc or mc.group(2) != "0":
        raise SystemExit("[snapshot] oracle check red or unparseable")
    n_green = int(mc.group(1))
    # registry total = per-query dump dirs written by Verify (one parquet
    # directory per query, named after it; oracle_sql.json sits beside)
    n_total = sum(1 for d in Path(VERIFY_OUT).iterdir() if d.is_dir())
    if n_specs is not None:
        render_readme_counts(n_specs, n_green, n_total)
    step("plans dump (PLANS.md at HEAD)",
         ["sbt", "-batch", "Test/runMain graft.DumpPlans"])
    # rebuild the audit replicas from sf0.01 immediately before auditing —
    # fixed provenance, regardless of what any other tool left in /tmp
    step("rebuild audit replica 10x (sf0.01 x 10)",
         ["sbt", "-batch", f"Test/runMain graft.ScaleUp {SF} /tmp/sfx10 10"])
    step("replica audit 10x",
         [sys.executable, "tools/replica_audit.py", "/tmp/sfx10"])
    step("ANN recall audit 10x (ss2/ss3's at-scale evidence)",
         ["sbt", "-batch",
          "Test/runMain graft.RecallAudit /tmp/sfx10 RECALL_AUDIT_10x.json"])
    if args.audit_100x:
        step("rebuild audit replica 100x (sf0.01 x 100)",
             ["sbt", "-batch", f"Test/runMain graft.ScaleUp {SF} /tmp/sfx100 100"])
        step("replica audit 100x (bounded)",
             [sys.executable, "tools/replica_audit.py", "/tmp/sfx100",
              "--bounded"])
        # the 100x recall audit regenerates WITH the rest of the snapshot
        # so its head can never trail the other artifacts (the round-10
        # staleness finding: it was manual and stopped at 10x)
        step("ANN recall audit 100x (lsh/ivf/ivfpq/filtered)",
             ["sbt", "-batch",
              "Test/runMain graft.RecallAudit /tmp/sfx100 "
              "RECALL_AUDIT_100x.json"])
    if args.bench:
        step("benchscale", [sys.executable, "tools/benchscale.py"])
    print("\n[snapshot] all green — commit ORACLE_SQL.json, "
          "REPLICA_AUDIT_*.json, RECALL_AUDIT_10x.json"
          + (", RECALL_AUDIT_100x.json" if args.audit_100x else "")
          + (", BENCHSCALE.json/md" if args.bench else "")
          + " at this HEAD", flush=True)


if __name__ == "__main__":
    main()
