"""Self-tests of the benchmark's own pieces (no Spark needed):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402

SMALL_TREE = dict(lines=3000, files=5, skew=1.1, templates=20, escape_card=7)


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for d, _, files in os.walk(root):
        for name in files:
            path = os.path.join(d, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def test_log_tree_is_byte_identical_for_a_seed(tmp_path):
    a = gen.log_tree(str(tmp_path / "a"), seed=5, **SMALL_TREE)
    b = gen.log_tree(str(tmp_path / "b"), seed=5, **SMALL_TREE)
    c = gen.log_tree(str(tmp_path / "c"), seed=6, **SMALL_TREE)
    assert a == b
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    assert _tree_bytes(str(tmp_path / "a")) != _tree_bytes(str(tmp_path / "c"))


def test_log_tree_shape(tmp_path):
    m = gen.log_tree(str(tmp_path), seed=1, **SMALL_TREE)
    files = _tree_bytes(str(tmp_path))
    logs = {k: v for k, v in files.items() if os.path.basename(k).startswith("container_")}
    assert len(logs) == SMALL_TREE["files"]
    assert sum(v.count(b"\n") for v in logs.values()) == m["lines"] == SMALL_TREE["lines"]
    sizes = sorted((v.count(b"\n") for v in logs.values()), reverse=True)
    assert sizes[0] > 2 * sizes[-1]  # Zipf-skewed file sizes
    body = b"".join(logs.values())
    assert b"\n\tat org.apache.hadoop" in body  # continuation lines
    decoy = [k for k in files if k.endswith("syslog")]
    assert len(decoy) == 1 and gen.DECOY_MARKER.encode() in files[decoy[0]]
    assert gen.DECOY_MARKER.encode() not in body


def test_documents_are_byte_identical_for_a_seed(tmp_path):
    gen.documents(str(tmp_path / "a"), docs=50, dup_frac=0.1, seed=3)
    gen.documents(str(tmp_path / "b"), docs=50, dup_frac=0.1, seed=3)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))


def test_cached_reuses_a_directory_per_parameters(tmp_path):
    calls = []

    def make(root, n, seed):
        calls.append(n)
        os.makedirs(root)
        return {"n": n}

    d1, m1 = gen.cached(str(tmp_path), "x", make, n=1, seed=1)
    d2, m2 = gen.cached(str(tmp_path), "x", make, n=1, seed=1)
    d3, _ = gen.cached(str(tmp_path), "x", make, n=2, seed=1)
    assert (d1, m1) == (d2, m2) and d3 != d1 and calls == [1, 2]


def _write_matrix(out_dir, rows) -> None:
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "event_matrix_exec202601010101AM.csv"), "w") as f:
        f.write("Cluster ID,Size,Template\n")
        for cid, size, template in rows:
            f.write(f'{cid},{size},"{template}"\n')


def test_check_matrix_rejects_a_size_sum_off_by_one(tmp_path):
    rows = [(1, 40, "Registering class <*> for class <*>"), (2, 60, "a, b <*>")]
    _write_matrix(str(tmp_path), rows)
    assert check.check_matrix(str(tmp_path), 100) is None
    assert "sum of Size is 100" in check.check_matrix(str(tmp_path), 101)
    assert "sum of Size is 100" in check.check_matrix(str(tmp_path), 99)


def test_check_matrix_decoy_and_novel_template(tmp_path):
    _write_matrix(str(tmp_path), [(1, 5, f"{gen.DECOY_MARKER} line <*>"), (2, 5, "novel <*>")])
    assert "ingested" in check.check_matrix(str(tmp_path), 10, absent=gen.DECOY_MARKER)
    assert check.check_matrix(str(tmp_path), 10, present="novel <*>") is None
    assert "missing" in check.check_matrix(str(tmp_path), 10, present="other <*>")


def test_check_table_compares_order_insensitively():
    expected = check.canon_table(["b", "a"], [(2, 0.5), (1, 1.0)])
    assert check.check_table("q", expected, check.canon_table(["a", "b"], [(1.0, 1), (0.5, 2)])) is None
    assert "rows" in check.check_table("q", expected, check.canon_table(["a", "b"], [(1.0, 1)]))
    assert "values" in check.check_table("q", expected, check.canon_table(["a", "b"], [(1.0, 1), (0.5, 3)]))


#: the streaming span of the recorded run the fixture was cut from
STREAM_SPAN = {"id": 0, "layer": "streaming.mining_stream", "parent": None,
               "start": 1792208766.3336203, "end": 1792208772.8909886}
LAYERS = ["operators.drain", "streaming.mining_stream"]


def test_fold_small_recorded_log():
    """Three jobs cut from a recorded trace: a Drain match job (grouped,
    with ArrowEvalPython time whose plan is declared after its tasks), a
    streaming job (its own group, attributed by span time) and a job of
    the benchmark's own group (attributed to no layer)."""
    events = eventlog.read_events(os.path.join(HERE, "fixtures", "eventlog_small.json"))
    out = eventlog.fold(events, LAYERS, [STREAM_SPAN])
    drain, stream = out["operators.drain"], out["streaming.mining_stream"]
    assert (drain["jobs"], drain["tasks"]) == (1, 3)
    assert drain["cpu_s"] == pytest.approx(0.200788493)
    assert drain["python_s"] == pytest.approx(6.497)
    assert drain["task_skew"] == pytest.approx(2293 / 2265)
    assert (stream["jobs"], stream["tasks"]) == (1, 3)
    assert stream["cpu_s"] == pytest.approx(0.003447653)
    assert stream["task_skew"] == pytest.approx(50 / 32)
    assert stream["python_s"] == 0
    assert eventlog.fold(events, LAYERS)["streaming.mining_stream"]["jobs"] == 0


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "layer": "bench", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "layer": "operators.matrix", "parent": 0, "start": 1.0, "end": 6.0},
        {"id": 2, "layer": "operators.mining", "parent": 1, "start": 2.0, "end": 4.0},
        {"id": 3, "layer": "operators.mining", "parent": 1, "start": 3.0, "end": 5.0},
        {"id": 4, "layer": "operators.matrix", "parent": 1, "start": 5.5, "end": 6.0},
    ]
    t = eventlog.self_times(spans)
    assert t["bench"] == pytest.approx((10.0, 5.0))
    # span 1 minus its children's union [2, 5] + [5.5, 6]; nested span 4
    # adds its own self time but not its wall time
    assert t["operators.matrix"] == pytest.approx((5.0, 1.5 + 0.5))
    assert t["operators.mining"] == pytest.approx((4.0, 4.0))
