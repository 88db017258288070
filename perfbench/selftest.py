"""Self-test of the benchmark at tiny sizes (about 5 minutes on 4 CPUs).

    python3 perfbench/selftest.py

1. Every workload, untraced and traced, prints as its last line a result
   with exactly the keys correct/attempted/failed/metrics, and the metrics
   are exactly the end_to_end (untraced) or per_layer (traced) metrics of
   BENCHMARK.json, each a number with the unit named there.
2. A deliberately corrupted output is caught and counted as failed: one
   chunk row dropped from, or one span's text changed in, every committed
   ``chunks`` stage of ``ingest``, and one kNN rank changed in every
   ``probe`` request.
3. No scratch directory is left behind.

Each run is a separate process, as the benchmark is run.  It re-enters this
file as ``selftest.py --bench <case> <benchmark arguments>``, which sets the
workloads' input sizes to TINY, applies the corruption named by <case>
(``clean`` for none) and then runs the benchmark unchanged.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY = {"Ingest": {"N_DOCS": 30},
        "Probe": {"N_DOCS": 50, "N_POLYGONS": 100}}


def tiny_sizes() -> None:
    from perfbench import workloads

    for cls, sizes in TINY.items():
        for name, value in sizes.items():
            setattr(getattr(workloads, cls), name, value)


def _rewrite_chunks(edit) -> None:
    """Ingest: after each operation commits, rewrite the first non-empty
    chunks file as ``edit(table)``."""
    import pyarrow.parquet as pq

    from perfbench.workloads import Ingest

    op = Ingest.op

    def corrupted(self, i):
        n, root = op(self, i)
        d = os.path.join(root, "chunks")
        for f in sorted(os.listdir(d)):
            if f.endswith(".parquet"):
                t = pq.read_table(os.path.join(d, f))
                if t.num_rows:
                    pq.write_table(edit(t), os.path.join(d, f))
                    break
        return n, root

    Ingest.op = corrupted


def drop_chunk_row() -> None:
    """Ingest: the first chunk row of a committed file is dropped."""
    _rewrite_chunks(lambda t: t.slice(1))


def edit_span_text() -> None:
    """Ingest: the first text fragment of a committed file gains a leading
    character; row count, manifest and chunk indexes stay as they were."""
    import pyarrow as pa

    def edit(t):
        rows = t.to_pylist()
        frag = next(s for r in rows for s in r["spans"] if s["kind"] == "text")
        frag["text"] = "#" + frag["text"]
        return pa.Table.from_pylist(rows, schema=t.schema)

    _rewrite_chunks(edit)


def wrong_knn_rank() -> None:
    """Probe: the first kNN row of every request reports rank k+1."""
    from perfbench.workloads import Probe

    knn = Probe._knn

    def corrupted(self, q):
        rows = knn(self, q)
        return [rows[0][:-1] + (rows[0][-1] + 5,)] + rows[1:]

    Probe._knn = corrupted


CORRUPTIONS = {"drop_chunk_row": ("ingest", drop_chunk_row),
               "edit_span_text": ("ingest", edit_span_text),
               "wrong_knn_rank": ("probe", wrong_knn_rank)}


def run(case: str, workload: str, trace: int) -> dict:
    args = [os.path.abspath(__file__), "--bench", case, "--workload", workload,
            "--seed", "3", "--trace", str(trace), "--seconds", "1"]
    p = subprocess.run([sys.executable, *args], cwd="/", capture_output=True,
                       text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode or not lines:
        raise AssertionError(f"{args} exited {p.returncode}: {p.stderr[-3000:]}")
    return json.loads(lines[-1])


def check_shape(result: dict, spec_metrics: list[dict], what: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, what
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, what
    assert isinstance(result["failed"], int), what
    want = {m["name"]: m["unit"] for m in spec_metrics}
    got = result["metrics"]
    assert set(got) == set(want), (what, set(got) ^ set(want))
    for name, m in got.items():
        assert set(m) == {"value", "unit"}, (what, name)
        assert isinstance(m["value"], (int, float)), (what, name)
        assert m["unit"] == want[name], (what, name, m["unit"])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        name = w["name"]
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            what = f"{name} --trace {trace}"
            r = run("clean", name, trace)
            check_shape(r, spec[key], what)
            assert r["correct"] and r["failed"] == 0, (what, r)
            print(f"ok   {what}: {r['attempted']} operations, all correct",
                  flush=True)
    for name, (workload, _) in CORRUPTIONS.items():
        r = run(name, workload, 0)
        check_shape(r, spec["end_to_end"], name)
        assert not r["correct"] and r["failed"] == r["attempted"] >= 1, (name, r)
        assert r["metrics"]["ok_op_ratio"]["value"] == 0.0, (name, r)
        print(f"ok   {name}: {r['failed']}/{r['attempted']} operations "
              "counted as failed", flush=True)
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_tmp")), \
        "scratch directory left behind"
    print("selftest passed")
    return 0


if __name__ == "__main__":
    if len(sys.argv) > 2 and sys.argv[1] == "--bench":
        sys.path.insert(0, ROOT)
        tiny_sizes()
        if sys.argv[2] != "clean":
            CORRUPTIONS[sys.argv[2]][1]()
        from perfbench import run as bench

        sys.exit(bench.main(sys.argv[3:]))
    sys.exit(main())
