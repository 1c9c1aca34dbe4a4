"""tools/scale_probe.py corpus preparation and --graph100x argument
checks (no Spark job runs here)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0,
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"),
)

import scale_probe  # noqa: E402

from nchu_bigdata_spark.registry import load_all_queries  # noqa: E402


def test_finished_lineitem_corpus_gets_its_links(tmp_path, monkeypatch):
    """A run that crashed after lineitem.parquet/_SUCCESS but before the
    symlinks heals on the next run: no rebuild, every other base table
    linked, the blown lineitem left as it is."""
    base = tmp_path / "base"
    base.mkdir()
    for name in ("lineitem.parquet", "part.parquet", "orders.parquet"):
        (base / name).mkdir()
    monkeypatch.setattr(scale_probe, "BASE_SF", str(base))
    out = tmp_path / "li10x"
    (out / "lineitem.parquet").mkdir(parents=True)
    (out / "lineitem.parquet" / "_SUCCESS").touch()

    # no session: a rebuild of the finished corpus would fail here
    scale_probe.build_lineitem_nx(None, str(out), 10)
    scale_probe.build_lineitem_nx(None, str(out), 10)  # idempotent

    assert not (out / "lineitem.parquet").is_symlink()
    for name in ("part.parquet", "orders.parquet"):
        assert (out / name).is_symlink()
        assert os.readlink(out / name) == str(base / name)


def test_graph100x_rejects_ops_that_read_other_tables(monkeypatch, capsys):
    specs = load_all_queries()
    assert scale_probe.lineitem_only(specs["graph_pagerank"])
    assert scale_probe.lineitem_only(specs["graph_connected_components"])
    assert not scale_probe.lineitem_only(specs["tpch_q3"])

    monkeypatch.setattr(
        sys,
        "argv",
        ["scale_probe.py", "--graph100x", "--ops", "graph_pagerank,tpch_q3"],
    )
    with pytest.raises(SystemExit) as exc:
        scale_probe.main()
    assert exc.value.code == 2
    assert capsys.readouterr().err.rstrip().endswith("unknown): tpch_q3")
