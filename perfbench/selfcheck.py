"""Self-checks of the benchmark itself.

    python3 perfbench/selfcheck.py

Run from the root of a checkout. Checks that

- the same seed gives byte-identical generated inputs and a different
  seed gives different ones;
- ``BENCHMARK.json`` names exactly the workloads and metrics that
  ``run.py`` emits, with the same units, and says for each workload
  why it was chosen and which layers it loads;
- at a tiny smoke size every workload, traced and untraced, passes its
  correctness check, fails no operation, and emits every metric named
  in ``BENCHMARK.json`` with its unit;
- in a directory holding only ``BENCHMARK.json`` and the benchmark,
  ``run.py`` fails without printing a result.
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402

CMD = [sys.executable, os.path.join("perfbench", "run.py")]


def _same_files(a: str, b: str) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def check_determinism(tmp: str) -> None:
    for seed, sub in ((7, "a"), (7, "b"), (8, "c")):
        d = os.path.join(tmp, sub)
        gen.write_tables(d, seed, 0.001)
        gen.write_corpus(os.path.join(d, "corpus.parquet"), seed, 300)
    assert _same_files(os.path.join(tmp, "a"), os.path.join(tmp, "b")), \
        "same seed gave different inputs"
    assert not filecmp.cmp(os.path.join(tmp, "a", "lineitem.parquet"),
                           os.path.join(tmp, "c", "lineitem.parquet"),
                           shallow=False), "different seeds gave the same tables"
    assert not filecmp.cmp(os.path.join(tmp, "a", "corpus.parquet"),
                           os.path.join(tmp, "c", "corpus.parquet"),
                           shallow=False), "different seeds gave the same corpus"
    rows = [(i, 1_700_000_000_000_000 + i, "item_view", i % 7) for i in range(500)]
    assert gen.topic_files(rows, 7, 5, 0.1) == gen.topic_files(rows, 7, 5, 0.1)
    assert gen.topic_files(rows, 7, 5, 0.1) != gen.topic_files(rows, 8, 5, 0.1)


def benchmark_spec() -> dict:
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    from workloads import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    for w in spec["workloads"]:
        assert "Loads " in w["why"], f"{w['name']}: why names no layers"
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    assert list(e2e) == list(run.END_TO_END), "end_to_end names drifted"
    assert e2e["setup_s"] == "s"
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    return spec


def check_smoke(spec: dict) -> None:
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    for w in spec["workloads"]:
        for tr in (0, 1):
            out = subprocess.run(
                CMD + ["--workload", w["name"], "--seed", "1", "--seconds", "1",
                       "--trace", str(tr), "--smoke"],
                capture_output=True, text=True, timeout=600, check=True)
            res = json.loads(out.stdout.strip().splitlines()[-1])
            assert set(res) == {"correct", "attempted", "failed", "metrics"}
            assert res["correct"] and res["failed"] == 0, (w["name"], out.stdout)
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want[tr], (w["name"], tr, set(got) ^ set(want[tr]))
            print(f"smoke {w['name']} trace={tr}: ok", flush=True)


def check_bare_directory(tmp: str) -> None:
    bare = os.path.join(tmp, "bare")
    os.makedirs(bare)
    shutil.copy("BENCHMARK.json", bare)
    shutil.copytree("perfbench", os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = subprocess.run(CMD + ["--workload", "olap_mix", "--seed", "1",
                                "--seconds", "1", "--trace", "0"],
                         cwd=bare, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0 and '"metrics"' not in out.stdout


def main() -> int:
    spec = benchmark_spec()
    with tempfile.TemporaryDirectory() as tmp:
        check_determinism(tmp)
        print("determinism: ok")
        check_bare_directory(tmp)
        print("bare directory: ok")
    check_smoke(spec)
    print("selfcheck: ok")
    return 0


if __name__ == "__main__":
    sys.exit(main())
