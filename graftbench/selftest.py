#!/usr/bin/env python3
"""Self-test of the benchmark at toy input sizes.

    python3 graftbench/selftest.py

Run from the repository root. It checks that
  - the same seed gives the same inputs and the same reference digests,
    and another seed does not;
  - a digest that differs from its reference is caught;
  - a traced toy run emits every end-to-end and per-layer metric named in
    BENCHMARK.json, each with its unit, and passes its correctness gate;
  - an injected wrong result raises fail_frac and fails the run.
The two toy runs start the JVM, so the whole test takes about two minutes.
"""
import hashlib
import json
import subprocess
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
import inputs  # noqa: E402

ROOT = HERE.parent


def file_hashes(d):
    return {p.name: hashlib.sha256(p.read_bytes()).hexdigest()
            for p in sorted(Path(d).glob("*.parquet"))}


def frame_digests(d):
    con = inputs.connect(d, ["f", "g", "d"])
    return {n: inputs.digest_sql(con, sql) for n, sql in inputs.frame_sql().items()}


def check_determinism():
    with tempfile.TemporaryDirectory(dir=HERE / ".work") as tmp:
        a, b, c = (Path(tmp, x) for x in "abc")
        inputs.make_frames(7, 3000, a)
        inputs.make_frames(7, 3000, b)
        inputs.make_frames(8, 3000, c)
        assert file_hashes(a) == file_hashes(b), "same seed, different inputs"
        assert file_hashes(a) != file_hashes(c), "different seeds, same inputs"
        da, db = frame_digests(a), frame_digests(b)
        assert da == db, "same seed, different reference digests"
        for name, want in da.items():
            assert inputs.same_digest(want, want), name
            bad = json.loads(json.dumps(want))
            bad["rows"] += 1
            assert not inputs.same_digest(bad, want), f"{name}: row count change not caught"
            col = sorted(bad["cols"])[0]
            bad = json.loads(json.dumps(want))
            bad["cols"][col]["nulls"] += 1
            assert not inputs.same_digest(bad, want), f"{name}: NULL count change not caught"
    print("selftest: inputs and references are deterministic; digest changes are caught")


def run(*args):
    proc = subprocess.run([sys.executable, str(HERE / "run.py"), "--toy", *args],
                          cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if not lines:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"no result from run.py {' '.join(args)}")
    return proc.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    rc, diag, result = run("--workload", "frames", "--seed", "3", "--seconds", "2", "--trace", "1")
    assert rc == 0 and result["correct"] and result["failed"] == 0, (rc, result, diag.get("errors"))
    got = result["metrics"]
    for m in spec["per_layer"]:
        assert m["name"] in got, f"per-layer metric {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{m['name']}: unit {got[m['name']]['unit']}"
    e2e = diag["end_to_end"]
    for m in spec["end_to_end"]:
        assert m["name"] in e2e, f"end-to-end metric {m['name']} missing"
    assert diag["fail_frac"] == 0.0
    print(f"selftest: traced toy run emits all {len(spec['per_layer'])} per-layer and "
          f"{len(spec['end_to_end'])} end-to-end metrics")


def check_injected_failure():
    rc, diag, result = run("--workload", "interactive", "--seed", "3", "--seconds", "2",
                           "--trace", "0", "--inject-wrong", "q6_revenue_delta")
    assert rc == 1 and not result["correct"], "an injected wrong result did not fail the run"
    assert result["failed"] > 0 and diag["fail_frac"] > 0, result
    assert all(k.startswith("q6_revenue_delta") for k in diag["errors"]), diag["errors"]
    names = [m["name"] for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]]
    assert sorted(result["metrics"]) == sorted(names), sorted(result["metrics"])
    for m in result["metrics"].values():
        assert m["unit"], m
    print(f"selftest: injected wrong result gives fail_frac {diag['fail_frac']:.3f} and exit 1")


if __name__ == "__main__":
    (HERE / ".work").mkdir(exist_ok=True)
    check_determinism()
    check_metrics()
    check_injected_failure()
    print("selftest: ok")
