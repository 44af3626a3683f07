#!/usr/bin/env python3
"""Pre-commit green-chain guard. Run before EVERY commit; mandatory for
any commit made after the round's snapshot commit.

    python3 tools/precommit.py [query_name ...]

Round 9's failure mode: the final three commits of the round were made
without re-running ANYTHING — the last one contained a scaladoc with a
literal `*/` inside it, HEAD stopped compiling, and the driver's
CORRECTNESS_r09.json came back `{}` (scalac would have caught it in 3
seconds). This tool is the structural fix: it makes the minimal check a
single command so there is no excuse to skip it.

1. `sbt -batch compile` + `Test/compile`  — the round-9 class of failure
2. registry reachability — every graft.queries.*Ops object defining
   `all: Seq[Q]` must be referenced from SparkEntry.scala (round 9 also
   shipped SelectionOps unregistered → dead code, never gated)
3. parquet reads — `read.parquet(` appears in src/main only inside
   `graft.sources.Tables.parquet`; any other call brings back Spark's
   one-task schema-inference job on every table resolution
4. streaming skeleton — `Snapshots.publish(`, `BatchLedger.save(`,
   `BatchLedger.load(`, `restoreLedger(` and `.foreachBatch` appear in
   graft.streaming only inside the `Maintenance` base (plus the files
   that define them or keep their own protocol); a handle that regrows
   its own save/resume/attach fails here
5. with query names: run graft.Verify on exactly those rows @ sf0.01 and
   tools/check.py on the dump (the driver-gate stand-in for the rows you
   just touched)
6. staleness report — README's counts-block source tree vs the current
   one (`source_tree`), so a commit that changes the measured sources
   after the snapshot visibly admits its artifacts are stale

Exit code is non-zero on any red step; the staleness report is a warning
only (the next snapshot commit clears it).
"""
import os
import re
import subprocess
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
SF = "/root/testdata/sf0.01"
OUT = "/tmp/graft-precommit"


def run(title, cmd, capture=False):
    print(f"[precommit] === {title}", flush=True)
    r = subprocess.run(cmd, cwd=REPO, capture_output=capture, text=True)
    if r.returncode != 0:
        if capture:
            sys.stderr.write((r.stdout or "")[-3000:] + (r.stderr or "")[-3000:])
        raise SystemExit(f"[precommit] RED — '{title}' failed; do NOT commit")
    return r.stdout if capture else None


def check_registry_reachability():
    """Every queries/*.scala object exposing `all: Seq[Q]` must appear in
    SparkEntry.scala's registry chain."""
    entry = (REPO / "src/main/scala/graft/SparkEntry.scala").read_text()
    missing = []
    for f in sorted((REPO / "src/main/scala/graft/queries").glob("*.scala")):
        text = f.read_text()
        m = re.search(r"object (\w+)", text)
        if m and re.search(r"\bdef all\s*:\s*Seq\[Q\]", text):
            if not re.search(rf"\b{m.group(1)}\.all\b", entry):
                missing.append(m.group(1))
    if missing:
        raise SystemExit("[precommit] RED — query objects not in "
                         f"SparkEntry.registry: {missing}")
    print("[precommit] registry reachability ok", flush=True)


PARQUET_READ = re.compile(r"\bread\s*\.\s*parquet\s*\(")
PARQUET_HELPER = "src/main/scala/graft/sources/Tables.scala"


def check_parquet_reads():
    """Every parquet read in src/main resolves through Tables.parquet,
    which reads the schema from one footer on the driver; a bare
    `spark.read.parquet(` runs a schema-inference Spark job per call."""
    hits = []
    for f in sorted((REPO / "src/main").rglob("*.scala")):
        rel = f.relative_to(REPO).as_posix()
        text = f.read_text()
        found = [f"{rel}:{text.count(chr(10), 0, m.start()) + 1}"
                 for m in PARQUET_READ.finditer(text)]
        # the helper keeps one: Spark's own inference, its fallback
        hits += found[1:] if rel == PARQUET_HELPER else found
    if hits:
        raise SystemExit("[precommit] RED — read.parquet( outside "
                         f"Tables.parquet (use graft.sources.Tables.parquet): {hits}")
    print("[precommit] parquet reads ok", flush=True)


SKELETON_CALL = re.compile(r"Snapshots\.publish\(|BatchLedger\.save\(|"
                           r"BatchLedger\.load\(|restoreLedger\(|\.foreachBatch\b")
SKELETON_DIR = "src/main/scala/graft/streaming"
# the base itself; the files defining the publish protocol and the
# ledger; EventStreams' idempotent file sink, which is no handle
SKELETON_ALLOWED = {"Maintenance.scala", "Snapshots.scala",
                    "BatchLedger.scala", "EventStreams.scala"}


def check_streaming_skeleton():
    """The maintenance handles' merge guard, save, resume and attach
    live once, in graft.streaming.Maintenance; each handle writes only
    its fold and its named state frames."""
    hits = []
    for f in sorted((REPO / SKELETON_DIR).glob("*.scala")):
        if f.name in SKELETON_ALLOWED:
            continue
        text = f.read_text()
        hits += [f"{f.relative_to(REPO).as_posix()}:"
                 f"{text.count(chr(10), 0, m.start()) + 1} {m.group(0)}"
                 for m in SKELETON_CALL.finditer(text)]
    if hits:
        raise SystemExit("[precommit] RED — maintenance skeleton calls "
                         f"outside graft.streaming.Maintenance: {hits}")
    print("[precommit] streaming skeleton ok", flush=True)


# what README's counts are measured on: a change here changes them
SOURCES = ["src", "build.sbt", "project", "tools/check.py"]


def source_tree():
    """Short git tree id of SOURCES as they stand in the working tree
    (untracked files included, ignored ones not). Unlike the commit id
    it survives a commit of exactly these sources, and doc-only commits."""
    with tempfile.TemporaryDirectory() as d:
        env = dict(os.environ, GIT_INDEX_FILE=os.path.join(d, "index"))
        subprocess.run(["git", "add", "-A", "--", *SOURCES], cwd=REPO,
                       env=env, check=True)
        return subprocess.run(["git", "write-tree"], cwd=REPO, env=env,
                              capture_output=True, text=True,
                              check=True).stdout.strip()[:10]


def staleness_report():
    tree = source_tree()
    m = re.search(r"source tree `(\w+)`", (REPO / "README.md").read_text())
    if not m or m.group(1) != tree:
        print(f"[precommit] WARNING: README counts pinned at source tree "
              f"{m.group(1) if m else '(none)'} but the sources are {tree} "
              "— artifacts are STALE; run tools/round_snapshot.py before "
              "the round ends", flush=True)
    else:
        print(f"[precommit] README counts source tree matches ({tree})",
              flush=True)


def main():
    names = sys.argv[1:]
    run("sbt compile", ["sbt", "-batch", "compile", "Test/compile"])
    check_registry_reachability()
    check_parquet_reads()
    check_streaming_skeleton()
    if names:
        subprocess.run(["rm", "-rf", OUT], check=True)
        run(f"verify {len(names)} touched rows @ sf0.01",
            ["sbt", "-batch", f"runMain graft.Verify {SF} {OUT} {','.join(names)}"])
        out = run("oracle check on touched rows",
                  [sys.executable, "tools/check.py", SF, OUT, "--present-only"],
                  capture=True)
        sys.stdout.write(out[-1500:])
        m = re.search(r"== (\d+) pass, (\d+) fail ==", out)
        if not m or m.group(2) != "0":
            raise SystemExit("[precommit] RED — oracle check failed")
        # a misspelled name (or a Verify run that wrote no dumps) makes
        # --present-only skip everything and report "0 pass, 0 fail" —
        # GREEN having verified nothing. Require one pass per requested
        # name so absence is as loud as failure.
        want = len(set(names))
        if int(m.group(1)) != want:
            raise SystemExit(f"[precommit] RED — {m.group(1)} rows passed "
                             f"but {want} were requested; a name is "
                             "misspelled or its dump was not written")
    staleness_report()
    print("[precommit] GREEN — safe to commit", flush=True)


if __name__ == "__main__":
    main()
