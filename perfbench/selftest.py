#!/usr/bin/env python3
"""Self-test of the benchmark's output checks: every check must fail on
output corrupted in the way it guards against.

Usage (from the repository root): python3 perfbench/selftest.py

1. cycle runs one timed op and keeps its root; the checks pass on it.
   On copies of that root: one GeoTIFF cell is changed, one GeoTIFF is
   re-encoded without LZW and predictor, one month's layer (its GeoTIFF and
   its parquet partition) is deleted, one cell outside the clip polygon is
   given a value. The checks must fail on each.
2. gates runs one timed pass; one value of one row of one gate's result is
   changed in a copy. The DuckDB oracle check must fail.
Exits 1 if any check does not fail as it should.
"""
import shutil
import subprocess
import sys
from pathlib import Path

import pandas as pd

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SEED = 7
OPS = 1
failures = []


def expect(name, problems, needle):
    hit = [p for p in problems if needle in p]
    ok = bool(hit)
    print(f"[{'PASS' if ok else 'FAIL'}] {name}: "
          f"{hit[0] if hit else 'no problem mentioning ' + repr(needle)}")
    if not ok:
        failures.append(name)


def finished(workload):
    run_dir = build.BUILD / "runs" / f"selftest-{workload}"
    shutil.rmtree(run_dir, ignore_errors=True)
    res = run.run_jvm(workload, SEED, OPS, False, run_dir)
    problems = list(res["problems"])
    if workload == "gates":
        problems += run.gate_problems(run_dir)
    print(f"[{'PASS' if not problems else 'FAIL'}] {workload} clean run: "
          f"{problems[:3] if problems else 'checks pass'}")
    if problems:
        failures.append(f"{workload} clean run")
    return run_dir


def corrupted_copy(run_dir, name):
    copy = run_dir.parent / f"{run_dir.name}-{name}"
    shutil.rmtree(copy, ignore_errors=True)
    shutil.copytree(run_dir / "root", copy / "root")
    return copy


def corrupt_tif(mode, tif, copy):
    cmd, env = build.jvm(copy / "corrupt", "perfbench.Corrupt", [mode, str(tif)])
    subprocess.run(cmd, env=env, check=True, stdout=subprocess.DEVNULL)


def recheck(workload, copy):
    return run.run_jvm(workload, SEED, OPS, False, copy, check_only=True)["problems"]


def first_tif(root, layer):
    return sorted((root / "rasters" / layer).glob("*.tif"))[0]


def main():
    build.build()
    runs = build.BUILD / "runs"

    cycle = finished("cycle")
    c = corrupted_copy(cycle, "cell")
    corrupt_tif("cell", first_tif(c / "root", "grid_temperature_2_m_anomaly"), c)
    expect("GeoTIFF cell changed", recheck("cycle", c), "differ from the closed form")

    c = corrupted_copy(cycle, "tags")
    corrupt_tif("plain", first_tif(c / "root", "grid_precipitation"), c)
    expect("GeoTIFF without LZW/predictor", recheck("cycle", c), "Compression=1 Predictor=1")

    c = corrupted_copy(cycle, "month")
    tif = first_tif(c / "root", "grid_precipitation_anomaly")
    year, month = tif.name.split("_")[1].split("-")[:2]
    tif.unlink()
    for part in (c / "root" / "outputs" / "grid_precipitation_anomaly").glob(
            f"variable=*/year={int(year)}/month={int(month)}"):
        shutil.rmtree(part)
    problems = recheck("cycle", c)
    expect("month's GeoTIFF deleted", problems, "missing")
    expect("month's parquet partition deleted", problems, "months")

    c = corrupted_copy(cycle, "clip")
    corrupt_tif("outside", first_tif(c / "root", "grid_temperature_2_m"), c)
    expect("live cell outside the clip", recheck("cycle", c), "outside the clip polygon")

    gates = finished("gates")
    c = corrupted_copy(gates, "row")
    gate_dir = sorted(p for p in (c / "root" / "gate_out").iterdir() if p.is_dir())[0]
    part = sorted(gate_dir.glob("*.parquet"))[0]
    df = pd.read_parquet(part)
    col = next(k for k in df.columns if pd.api.types.is_numeric_dtype(df[k]))
    df.loc[0, col] = df.loc[0, col] + 1
    df.to_parquet(part, index=False)
    expect(f"gate row changed ({gate_dir.name}.{col})",
           oracle.check(str(c / "root" / "gate_out"), str(build.FIXTURE)), gate_dir.name)

    for d in runs.glob("selftest-*"):
        shutil.rmtree(d, ignore_errors=True)
    print("self-test:", "all checks fail on corrupted output" if not failures
          else f"{len(failures)} case(s) wrong: {failures}")
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
