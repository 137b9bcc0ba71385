"""Smoke test of the benchmark itself, at a tiny input scale.

    python3 perfbench/smoke_test.py

For every workload (those in BENCHMARK.json, and `migrate`) and both trace modes it
proves that every metric named in BENCHMARK.json is emitted with its
unit and that the output checks pass. Then it corrupts one output of each workload (one row of a
migrated table; a forgotten id put back into the release artifact) and
proves that its check fails. Takes about ten minutes.
"""
import json
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import run  # noqa: E402

SCALE = {"migrate": 0.01, "migrate_jdbc": 0.01,
         "release_stream": {"docs": 200, "batches": 2, "batch_docs": 40}}


def expect(cond, msg):
    if not cond:
        raise SystemExit(f"smoke: FAIL: {msg}")
    print(f"smoke: ok: {msg}", flush=True)


def corrupt_one_row(table_dir):
    """Add 1 to the `total` of the first row of the first non-empty file."""
    for f in sorted(os.listdir(table_dir)):
        if not f.endswith(".parquet"):
            continue
        path = os.path.join(table_dir, f)
        t = pq.read_table(path)
        if t.num_rows == 0:
            continue
        i = t.schema.get_field_index("total")
        col = t.column(i).to_pylist()
        col[0] += 1.0
        pq.write_table(t.set_column(i, "total", pc.cast(col, t.schema.field(i).type)), path)
        return
    raise SystemExit("smoke: FAIL: no row to corrupt")


def resurrect_forgotten(artifact_dir, dead_path):
    """Put one forgotten id back into the artifact as a packed row."""
    dead = pq.read_table(dead_path).column("doc_id")[0].as_py()
    path = os.path.join(artifact_dir, sorted(f for f in os.listdir(artifact_dir)
                                             if f.endswith(".parquet"))[0])
    t = pq.read_table(path)
    row = pa.table({"part": ["pack"], "k": [str(dead)], "v": ["0:0:1:1"]}).cast(t.schema)
    pq.write_table(pa.concat_tables([t, row]), path)


def main():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
              1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    keep = os.path.join(run.BUILD, "smoke")
    expect(set(run.WORKLOADS) >= {w["name"] for w in spec["workloads"]},
           "every workload in BENCHMARK.json can be run")
    for name in run.WORKLOADS:
        for trace in (0, 1):
            line, _, _ = run.run(name, 1, 1, trace, scale=SCALE[name],
                                 keep=os.path.join(keep, name))
            got = {n: m["unit"] for n, m in line["metrics"].items()}
            expect(got == wanted[trace],
                   f"{name} trace={trace}: every metric emitted with its unit")
            expect(line["correct"] and line["failed"] == 0 and line["attempted"] > 0,
                   f"{name} trace={trace}: outputs pass their checks")
            if trace == 0:
                expect(all(m["value"] > 0 for m in line["metrics"].values()),
                       f"{name}: every end-to-end metric is non-zero")

    for name in run.WORKLOADS:
        kept = os.path.join(keep, name)
        data, manifest = run.inputs(name, 1, SCALE[name])
        if name == "release_stream":
            with open(os.path.join(kept, "result.json")) as f:
                r = dict(json.load(f), artifact=os.path.join(kept, "artifact.parquet"))
            def failed_checks():
                return [c for c, ok, _ in check.check_release(data, manifest, r) if not ok]
            expect(not failed_checks(), f"{name}: kept output passes before corruption")
            resurrect_forgotten(r["artifact"], os.path.join(data, "dead.parquet"))
            target = "release:artifact_forgotten"
        else:
            out = os.path.join(kept, "dump" if name == "migrate_jdbc" else "out")
            upserted = name == "migrate_jdbc"
            def failed_checks():
                return [c for c, ok, _ in check.check_outputs(data, out, upserted) if not ok]
            expect(not failed_checks(), f"{name}: kept output passes before corruption")
            corrupt_one_row(os.path.join(out, "orders_out.parquet"))
            target = "table:orders_out"
        failed = failed_checks()
        expect(target in failed, f"{name}: a corrupted output fails its check ({failed})")
    shutil.rmtree(keep, ignore_errors=True)
    print("smoke: PASS")


if __name__ == "__main__":
    main()
