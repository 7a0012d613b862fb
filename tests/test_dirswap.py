"""sources.dirswap: a fault-injection matrix over every operator that
publishes a directory through ``swap_in``, and a guard that keeps
directory renames inside the swap module."""

import ast
import os
import pathlib
import shutil
from types import SimpleNamespace

import pytest

from lakehouse_to_rag_spark.sources import dirswap

PKG = pathlib.Path(__file__).resolve().parents[1] / "lakehouse_to_rag_spark"


def _docs(spark, sf_dir, cond):
    return (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(cond)
        .select("doc_id", "text")
    )


def _vecs(spark, sf_dir, cond):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(cond)


# Each case: (setup(spark, sf_dir, root), run(spark, sf_dir, root),
# dsts(root)). setup builds the pre-call state under root, run is the
# operator call, dsts are the directories the call swaps, in swap
# order. Setups are chosen so the pre- and post-call states differ.


def _upsert_setup(spark, sf_dir, root):
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k long, v string"
    ).write.parquet(f"{root}/layer")


def _upsert_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.sources.lakehouse import upsert_by_key

    upsert_by_key(
        spark, f"{root}/layer",
        spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string"),
        ["k"], fmt="parquet",
    )


def _compact_layer_setup(spark, sf_dir, root):
    spark.range(40).selectExpr("id", "id * 2 AS v").repartition(
        4
    ).write.parquet(f"{root}/layer")


def _compact_layer_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.sources.lakehouse import compact_layer

    compact_layer(spark, f"{root}/layer", target_files=1, fmt="parquet")


def _ivf_setup(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.similarity import (
        append_to_ivf_index,
        write_ivf_index,
    )

    ivf = f"{root}/ivf"
    write_ivf_index(
        _vecs(spark, sf_dir, "vec_id % 2 = 0"), ivf, num_centroids=4
    )
    append_to_ivf_index(spark, ivf, _vecs(spark, sf_dir, "vec_id % 2 = 1"))


def _ivf_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.similarity import compact_ivf_index

    compact_ivf_index(spark, f"{root}/ivf")


def _bm25_setup(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.retrieval import write_bm25_index

    write_bm25_index(
        _docs(spark, sf_dir, "doc_id % 2 = 0"), f"{root}/bm25", n_buckets=8
    )


def _bm25_appended_setup(spark, sf_dir, root):
    _bm25_setup(spark, sf_dir, root)
    _bm25_append_run(spark, sf_dir, root)


def _bm25_compact_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.retrieval import compact_bm25_index

    compact_bm25_index(spark, f"{root}/bm25")


def _bm25_append_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.retrieval import (
        append_to_bm25_index,
    )

    append_to_bm25_index(
        spark, f"{root}/bm25", _docs(spark, sf_dir, "doc_id % 2 = 1")
    )


def _bm25_stale_setup(spark, sf_dir, root):
    """An index whose ``_stats`` and ``_ids`` are stale-low, the state
    a half-committed append leaves for ``rebuild_bm25_stats``."""
    from lakehouse_to_rag_spark.sources.tables import local_df

    _bm25_setup(spark, sf_dir, root)
    local_df(
        spark, [(1, 1, 1.0, 8)],
        "n_docs long, sum_dl long, avgdl double, n_buckets long",
    ).write.mode("overwrite").parquet(f"{root}/bm25/_stats")
    spark.createDataFrame([(0,)], "id long").write.mode(
        "overwrite"
    ).parquet(f"{root}/bm25/_ids")


def _bm25_rebuild_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.retrieval import rebuild_bm25_stats

    rebuild_bm25_stats(spark, f"{root}/bm25")


def _shards_setup(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.curation import (
        write_training_shards,
    )

    write_training_shards(
        _docs(spark, sf_dir, "doc_id < 30"), f"{root}/shards",
        token_budget=500,
    )


def _shards_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators.curation import (
        write_training_shards,
    )

    write_training_shards(
        _docs(spark, sf_dir, "doc_id < 30"), f"{root}/shards",
        token_budget=200,
    )


def _scheme_setup(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators._ledger import write_scheme

    os.makedirs(f"{root}/ledger")
    write_scheme(spark, f"{root}/ledger", {"n_buckets": 8})


def _scheme_run(spark, sf_dir, root):
    from lakehouse_to_rag_spark.operators._ledger import write_scheme

    write_scheme(spark, f"{root}/ledger", {"n_buckets": 16})


CASES = {
    "upsert_by_key": (
        _upsert_setup, _upsert_run, lambda r: [f"{r}/layer"]),
    "compact_layer": (
        _compact_layer_setup, _compact_layer_run, lambda r: [f"{r}/layer"]),
    "compact_ivf_index": (_ivf_setup, _ivf_run, lambda r: [f"{r}/ivf"]),
    "compact_bm25_index": (
        _bm25_appended_setup, _bm25_compact_run, lambda r: [f"{r}/bm25"]),
    "append_to_bm25_index": (
        _bm25_setup, _bm25_append_run, lambda r: [f"{r}/bm25/_stats"]),
    "rebuild_bm25_stats": (
        _bm25_stale_setup, _bm25_rebuild_run,
        lambda r: [f"{r}/bm25/_stats", f"{r}/bm25/_ids"]),
    "write_training_shards": (
        _shards_setup, _shards_run, lambda r: [f"{r}/shards"]),
    "write_scheme": (
        _scheme_setup, _scheme_run, lambda r: [f"{r}/ledger/_scheme"]),
}

# crash step -> (patched call, which call of it raises)
STEPS = {
    "first_rename": ("rename", 1),
    "second_rename": ("rename", 2),
    "cleanup": ("rmtree", 1),
}


def _state(spark, dst):
    """What a reader of ``dst`` sees: its rows, and its data-file
    count (the part a compaction changes)."""
    files = [
        f for f in pathlib.Path(dst).rglob("*.parquet")
        if not any(
            p.startswith(("_", "."))
            for p in f.relative_to(dst).parts
        )
    ]
    rows = sorted(
        (repr(tuple(r)) for r in spark.read.parquet(dst).collect())
    )
    return rows, len(files)


def _remnants(dst):
    base = pathlib.Path(dst)
    suffixes = dirswap._REMNANTS["staging"] + dirswap._REMNANTS["old"]
    return [
        p.name for p in base.parent.iterdir()
        if p.name.startswith(base.name)
        and p.name[len(base.name):].startswith(suffixes)
    ]


@pytest.fixture(scope="module")
def baselines(spark, sf_dir, tmp_path_factory):
    """Per operator, built once for its three crash steps: a pristine
    pre-call tree, and the states of its swapped dirs before and after
    an uncrashed call."""
    cache = {}

    def get(op):
        if op not in cache:
            setup, run, dsts = CASES[op]
            root = tmp_path_factory.mktemp(op)
            pristine, clean = str(root / "pristine"), str(root / "clean")
            setup(spark, sf_dir, pristine)
            shutil.copytree(pristine, clean)
            pre = [_state(spark, d) for d in dsts(pristine)]
            run(spark, sf_dir, clean)
            post = [_state(spark, d) for d in dsts(clean)]
            assert pre[0] != post[0], "pre- and post-call states must differ"
            cache[op] = pristine, pre, post
        return cache[op]

    return get


@pytest.mark.parametrize("step", list(STEPS))
@pytest.mark.parametrize("op", list(CASES))
def test_swap_fault_matrix(
    spark, sf_dir, tmp_path, monkeypatch, baselines, op, step
):
    """Crash an operator's swap at ``step`` (an injected OSError from
    the swap module's own rename/rmtree), then ``recover`` every
    swapped directory. Each must read back exactly as before the call
    (crash at either rename) or as after an uncrashed call (crash in
    cleanup, the new dir already in place), with no remnant left."""
    _, run, dsts = CASES[op]
    pristine, pre, post = baselines(op)
    crashed = str(tmp_path / "crashed")
    shutil.copytree(pristine, crashed)

    kind, nth = STEPS[step]
    calls = {"rename": 0, "rmtree": 0}

    def faulty(real, name):
        def call(*args, **kwargs):
            calls[name] += 1
            if name == kind and calls[name] == nth:
                raise OSError(f"injected crash at {step}")
            return real(*args, **kwargs)
        return call

    # module stand-ins seen only by the swap module's own calls
    with monkeypatch.context() as m:
        m.setattr(dirswap, "os", SimpleNamespace(
            **{**vars(os), "rename": faulty(os.rename, "rename")}))
        m.setattr(dirswap, "shutil", SimpleNamespace(
            **{**vars(shutil), "rmtree": faulty(shutil.rmtree, "rmtree")}))
        with pytest.raises(OSError, match="injected crash"):
            run(spark, sf_dir, crashed)

    for d in dsts(crashed):
        dirswap.recover(d)
    got = [_state(spark, d) for d in dsts(crashed)]
    assert got[0] == (post[0] if step == "cleanup" else pre[0])
    for g, before, after in zip(got, pre, post):
        assert g in (before, after)
    for d in dsts(crashed):
        assert _remnants(d) == []


def test_swap_in_single_rename_when_dst_absent(tmp_path):
    dst = str(tmp_path / "layer")
    tmp = dirswap.staging_path(dst)
    os.makedirs(tmp)
    dirswap.swap_in(tmp, dst)
    assert os.path.isdir(dst)
    assert os.listdir(tmp_path) == ["layer"]


def _package_nodes():
    """(module path relative to the package, AST node, name of the
    innermost enclosing function or None) for every node of every
    package module."""
    for py in sorted(PKG.rglob("*.py")):
        rel = py.relative_to(PKG).as_posix()
        tree = ast.parse(py.read_text(), filename=str(py))
        scopes = [
            n for n in ast.walk(tree)
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for node in ast.walk(tree):
            line = getattr(node, "lineno", 0)
            owner = max(
                (s for s in scopes if s.lineno <= line <= s.end_lineno),
                key=lambda s: s.lineno, default=None,
            )
            yield rel, node, owner and owner.name


def test_directory_renames_only_in_swap_module():
    """Directory swaps go through ``sources.dirswap`` only: an AST scan
    of the package finds every ``os.rename``/``os.replace`` call (and
    its enclosing function, to name the offender) outside that
    module. There must be none."""
    found = [
        (rel, owner)
        for rel, node, owner in _package_nodes()
        if rel != "sources/dirswap.py"
        and isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("rename", "replace")
        and isinstance(node.func.value, ast.Name)
        and node.func.value.id == "os"
    ]
    assert found == []


def test_index_layout_has_one_owner():
    """Only ``sources/index_layout.py`` imports ``pyarrow.parquet``, and
    ``operators/similarity.py`` imports nothing from
    ``operators/retrieval.py`` (that would close an import cycle)."""
    imported = [
        (rel, ".".join(filter(None, (getattr(node, "module", ""), a.name))))
        for rel, node, _ in _package_nodes()
        if isinstance(node, (ast.Import, ast.ImportFrom))
        for a in node.names
    ]
    assert {r for r, m in imported if m.startswith("pyarrow.parquet")} == {
        "sources/index_layout.py"
    }
    assert not [
        m for r, m in imported
        if r == "operators/similarity.py" and ".operators.retrieval" in m
    ]


# The corpus generators whose rows feed the parallel media decoders:
# they keep ``createDataFrame``'s defaultParallelism fan-out on purpose.
_SYNTH_TABLES = {
    f"synth_{kind}_table"
    for kind in ("media", "bmp", "png", "wav", "flac", "gif", "avi", "mp4")
}


def test_driver_rows_only_through_local_df():
    """Driver-held rows become a frame through ``sources.tables.
    local_df`` only: an AST scan of the package finds every
    ``createDataFrame``/``parallelize`` reference outside
    ``sources/tables.py`` and the multimodal ``synth_*_table``
    generators, and every identifier spelled like the deleted one-slice
    builder. There must be none."""
    deleted = "tiny" + "_df"  # two parts: a text search finds no use
    found = []
    for rel, node, owner in _package_nodes():
        if deleted in (
            getattr(node, "id", None),
            getattr(node, "attr", None),
            getattr(node, "name", None),
            getattr(node, "asname", None),
        ):
            found.append((rel, deleted, owner))
        elif (
            isinstance(node, ast.Attribute)
            and node.attr in ("createDataFrame", "parallelize")
            and rel != "sources/tables.py"
            and not (rel == "multimodal/ops.py" and owner in _SYNTH_TABLES)
        ):
            found.append((rel, node.attr, owner))
    assert found == []


def test_recover_sweeps_legacy_scheme_staging(tmp_path):
    """A ``_scheme__tmp_*`` dir, the ledger record's staging spelling
    from before it was published through ``swap_in``, is a staging
    remnant: ``recover`` deletes it and leaves the record alone."""
    dst = tmp_path / "_scheme"
    dst.mkdir()
    (tmp_path / "_scheme__tmp_0123abcd").mkdir()
    dirswap.recover(str(dst))
    assert sorted(os.listdir(tmp_path)) == ["_scheme"]
