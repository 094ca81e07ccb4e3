"""The build's one inverter (analysis.make_invert_rows): ``boost_delim``
under every posting format, and shipping the closure by value."""

import pickle
import subprocess
import sys

import pyarrow as pa
import pytest

from whoosh_reloaded_spark.analysis import StandardAnalyzer, make_invert_rows
from whoosh_reloaded_spark.analyzers import (
    DelimitedBoostAnalyzer,
    RegexAnalyzer,
    StemmingAnalyzer,
)
from whoosh_reloaded_spark.index import build_index

WS_PATTERN = r"[^ \t\r\n]+"
TEXTS = ["render^2 render", "plain render^0.5 file", "file^x edge^"]


def _postings(spark, format, analyzer=None, **kw):
    df = spark.createDataFrame(
        [(i, str(i), t) for i, t in enumerate(TEXTS)],
        "docid long, url string, text string",
    )
    ix = build_index(
        df, analyzer=analyzer or StandardAnalyzer(WS_PATTERN), format=format,
        boost_delim="^", with_docids=True, **kw,
    )
    return {(r["term"], r["docid"]): r for r in ix.postings.collect()}


@pytest.mark.parametrize("format", ["positions", "frequency"])
def test_boost_delim_sums_into_weight(spark, format):
    rows = _postings(spark, format)
    assert ("render^2", 0) not in rows
    assert rows[("render", 0)]["weight"] == 3.0
    assert rows[("render", 0)]["tf"] == 2
    assert rows[("render", 1)]["weight"] == 0.5
    assert rows[("file", 1)]["weight"] == 1.0
    # unparseable suffixes keep the whole token at boost 1.0
    assert rows[("file^x", 2)]["weight"] == 1.0
    assert rows[("edge^", 2)]["weight"] == 1.0
    if format == "positions":
        assert list(rows[("render", 0)]["positions"]) == [0, 1]
    # the same weights the position_boosts format folds
    boosted = _postings(spark, "position_boosts")
    assert {k: r["weight"] for k, r in rows.items()} == {
        k: r["weight"] for k, r in boosted.items()
    }


def test_boost_delim_existence_keeps_field_boost(spark):
    rows = _postings(spark, "existence", field_boost=1.5)
    assert ("render^2", 0) not in rows
    assert {r["weight"] for r in rows.values()} == {1.5}
    assert rows[("render", 0)]["tf"] == 1


@pytest.mark.parametrize("format", ["positions", "frequency", "existence",
                                    "position_boosts"])
@pytest.mark.parametrize("analyzer", [
    StemmingAnalyzer(),
    DelimitedBoostAnalyzer(RegexAnalyzer(WS_PATTERN)),
])
def test_boost_delim_needs_standard_analyzer(spark, format, analyzer):
    with pytest.raises(TypeError):
        _postings(spark, format, analyzer)


def test_inverter_pickles_by_value(tmp_path):
    """The pickled inverter runs where this package cannot be imported:
    executors need no --py-files for the StandardAnalyzer build."""
    from pyspark import cloudpickle

    batch = pa.RecordBatch.from_arrays(
        [
            pa.array([0, 1, 2, 3], pa.int64()),
            pa.array(["The quick fox, the fox", None, "", "Café ß Ж 中文 a.b"]),
        ],
        names=["docid", "text"],
    )
    run = make_invert_rows(StandardAnalyzer())
    expect = [b.to_pydict() for b in run(iter([batch]))]
    (tmp_path / "in.pkl").write_bytes(cloudpickle.dumps((run, batch)))
    code = (
        "import importlib.util, pickle\n"
        "assert importlib.util.find_spec('whoosh_reloaded_spark') is None\n"
        "run, batch = pickle.load(open('in.pkl', 'rb'))\n"
        "out = [b.to_pydict() for b in run(iter([batch]))]\n"
        "pickle.dump(out, open('out.pkl', 'wb'))\n"
    )
    subprocess.run([sys.executable, "-I", "-c", code], cwd=tmp_path,
                   check=True)
    assert pickle.loads((tmp_path / "out.pkl").read_bytes()) == expect
    assert expect[0]["term"]  # the batch produced postings


@pytest.mark.parametrize("format", ["positions", "existence",
                                    "character_boosts"])
def test_build_plans_one_python_pass(spark, format):
    """Every posting format analyzes and inverts in ONE MapInArrow node."""
    df = spark.createDataFrame(
        [(0, "0", "render^2 render")], "docid long, url string, text string"
    )
    ix = build_index(df, format=format, with_docids=True)
    plan = ix.postings._jdf.queryExecution().executedPlan().toString()
    assert plan.count("MapInArrow") == 1
