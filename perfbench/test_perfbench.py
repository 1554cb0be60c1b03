"""Tests of the benchmark itself.

    python3 -m pytest perfbench/test_perfbench.py -q

The traced-run test starts Spark and takes about two minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import bench
import corpus
import dashboard

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(*args, cwd=ROOT):
    return subprocess.run([sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
                          cwd=cwd, capture_output=True, text=True, timeout=180)


def test_generator_is_byte_identical_for_a_seed(tmp_path):
    paths = []
    for rep in range(2):
        a, b = corpus.make_corpus(7, 60, 10)
        p = tmp_path / f"{rep}.jsonl"
        corpus.write_jsonl(a + b, str(p))
        paths.append(p.read_bytes())
    assert paths[0] == paths[1]
    other, _ = corpus.make_corpus(8, 60, 10)
    assert json.dumps(other) != json.dumps(corpus.make_corpus(7, 60, 10)[0])


def test_generator_states_its_properties():
    a, b = corpus.make_corpus(3, 200, 20)
    stats = corpus.corpus_stats(a, b)
    assert stats["recurring_author_share"] > 0.3  # components are not all singletons
    assert stats["b_refetch_share"] == 0.5
    assert stats["b_new_known_author_share"] > 0.5
    warm, _ = corpus.make_corpus(3, 200, 0, kind="w")
    assert not {w["doi"] for w in warm if w["doi"]} & {x["doi"] for x in a if x["doi"]}


def test_wrong_expected_result_is_a_failed_op():
    pv = __import__("pandas").DataFrame(
        [{"DOI": "10.1/x", "Anio": 2023, "Tipo": "journal-article", "Sedes": "Sede Quito",
          "Areas": "Ingenierías", "PaisesCodigo": "EC; ES", "Autores": "Ana Loja",
          "Titulo": "t", "Citas": 1}])
    op = dashboard.make_ops(pv, seed=1)[0]
    right = op.pandas(pv)
    run = bench.Run()
    got = [tuple(r) for r in right]
    bench.check_ops([(op, got), (op, got)], {op.name: right}, run)
    assert run.failed == []
    bench.check_ops([(op, got)], {op.name: right + [(1999, 1)]}, run)
    assert run.failed == [op.name]


def test_op_exception_is_a_failed_op():
    run = bench.Run()
    assert run.op(lambda: 1 / 0) is None
    assert run.attempted == 1 and run.failed == ["exception"] and run.latencies_ms == []


def test_refuses_a_directory_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("runs", "work", "__pycache__"))
    p = _run("--workload", "etl", "--seed", "1", "--seconds", "1", "--trace", "0",
             cwd=str(tmp_path))
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def test_traced_run_emits_every_per_layer_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    p = _run("--workload", "etl", "--seed", "1", "--seconds", "1", "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    assert res["correct"] and res["failed"] == 0
    assert set(res["metrics"]) == {m["name"] for m in spec["per_layer"]}
    for m in spec["per_layer"]:
        assert res["metrics"][m["name"]]["unit"] == m["unit"]
