"""End-to-end CLI (python -m …) — the reference's one-command flow."""

import csv
import glob

from mgl870_tp02_project_01_hadoopmapreducelogs_spark.__main__ import run


def _write_corpus(root):
    app = root / "application_0001"
    app.mkdir(parents=True)
    msgs = [
        "Starting task {i}",
        "Progress of attempt_{i} is 0.{i}",
        "Failed to renew lease for client_{i}",
    ]
    for c in range(2):
        with open(app / f"container_0001_01_{c:06d}.log", "w") as f:
            for i in range(60):
                m = msgs[i % 3].format(i=i)
                f.write(
                    f"2024-11-20 13:{i % 60:02d}:00,000 INFO [main] a.b.C: {m}\n"
                )
    (app / "decoy.txt").write_text("not a log\n")


def _matrix_rows(out_dir):
    path = glob.glob(str(out_dir / "event_matrix_exec*.csv"))[0]
    with open(path) as f:
        rows = list(csv.DictReader(f))
    return rows


def test_cli_mines_and_accumulates_state(spark, tmp_path, capsys):
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    out1, out2 = tmp_path / "out1", tmp_path / "out2"
    state = tmp_path / "state"

    assert run([str(corpus), "--out", str(out1), "--state", str(state)]) == 0
    # the decoy is never listed; counts come from the catalog and listing
    assert "[ingest] 120 lines from 2 container_*.log files" in capsys.readouterr().out
    rows1 = _matrix_rows(out1)
    # reference golden header (event_matrix_exec202411230733PM.csv:1)
    assert set(rows1[0]) == {"Cluster ID", "Size", "Template"}
    assert sum(int(r["Size"]) for r in rows1) == 120  # Σsize = line count
    assert len(rows1) == 3

    # second run over the same corpus: drain3_state.bin accumulate
    # semantics — persisted sizes double, template set unchanged
    assert run([str(corpus), "--out", str(out2), "--state", str(state)]) == 0
    rows2 = _matrix_rows(out2)
    assert sum(int(r["Size"]) for r in rows2) == 240
    assert {r["Template"] for r in rows2} == {r["Template"] for r in rows1}
    # chart data extracted at the viz edge
    assert (out2 / "failure_distribution.csv").exists()


def test_cli_other_methods_count_lines_from_catalog(spark, tmp_path, capsys):
    """drainish and drain report the same line count (Σ size of their
    catalogs) and their failure totals cover every line of this corpus."""
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    for method in ("drainish", "drain"):
        out = tmp_path / method
        assert run([str(corpus), "--out", str(out), "--method", method]) == 0
        assert "[ingest] 120 lines from 2 container_*.log files" in capsys.readouterr().out
        assert sum(int(r["Size"]) for r in _matrix_rows(out)) == 120
        with open(out / "failure_distribution.csv") as f:
            assert sum(float(r["total"]) for r in csv.DictReader(f)) == 120.0


def test_cli_state_failure_totals_use_reported_ids(spark, tmp_path):
    """Under --state the failure totals are this run's occurrences, keyed
    by the accumulated catalog's ids — the same ids the matrix CSV shows."""
    state = tmp_path / "state"
    for name, msg, n in (("alpha", "Alpha started", 5), ("beta", "Beta stopped", 7)):
        app = tmp_path / name
        app.mkdir()
        (app / "container_0001_01_000001.log").write_text("".join(
            f"2024-11-20 13:00:{i:02d},000 INFO [main] a.b.C: {msg}\n" for i in range(n)
        ))
        out = tmp_path / f"out_{name}"
        assert run([str(app), "--out", str(out), "--state", str(state)]) == 0
    assert [(r["Cluster ID"], r["Size"], r["Template"]) for r in _matrix_rows(out)] == [
        ("1", "5", "Alpha started"),
        ("2", "7", "Beta stopped"),
    ]
    with open(out / "failure_distribution.csv") as f:
        assert list(csv.reader(f)) == [["cluster_id", "total"], ["2", "7.0"]]


def test_cli_stream_incremental_catchup(spark, tmp_path):
    """--stream: the checkpoint remembers consumed files; a second run
    processes ONLY the new file and the state store accumulates."""
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    state = tmp_path / "state"
    out1, out2 = tmp_path / "s1", tmp_path / "s2"

    assert run([str(corpus), "--out", str(out1), "--state", str(state),
                "--stream"]) == 0
    assert sum(int(r["Size"]) for r in _matrix_rows(out1)) == 120

    extra = corpus / "application_0001" / "container_0001_01_000099.log"
    with open(extra, "w") as f:
        for i in range(10):
            f.write(f"2024-11-20 14:00:{i:02d},000 WARN [main] a.b.C: Novel event {i}\n")
    assert run([str(corpus), "--out", str(out2), "--state", str(state),
                "--stream"]) == 0
    rows = _matrix_rows(out2)
    assert sum(int(r["Size"]) for r in rows) == 130
    assert any(r["Template"] == "Novel event <*>" for r in rows)


def test_cli_first_stream_run_matches_batch_run(spark, tmp_path):
    """A first --stream run over a fresh state writes the same matrix
    rows as the default batch run: one parser, one catalog builder."""
    corpus = tmp_path / "logs"
    _write_corpus(corpus)
    batch, stream = tmp_path / "batch", tmp_path / "stream"
    assert run([str(corpus), "--out", str(batch)]) == 0
    assert run([str(corpus), "--out", str(stream), "--state", str(tmp_path / "state"),
                "--stream"]) == 0
    assert _matrix_rows(stream) == _matrix_rows(batch)
