"""One way to keep an intermediate: ``caching.materialize`` checkpoints it
eagerly and the returned frame owns its blocks — repeat invocations must
not accumulate persistent RDDs, and nothing is left to unpersist."""

import ast
from pathlib import Path

import pytest

import pbx_ds_ocr_server_spark

SF_DIR = "/root/testdata/sf0.001"

_PERSIST_CALLS = {"cache", "persist", "unpersist", "localCheckpoint", "checkpoint"}


def _n_persistent(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_program_persists_only_through_materialize():
    pkg = Path(pbx_ds_ocr_server_spark.__file__).parent
    paths = [p for p in pkg.rglob("*.py") if p.name != "caching.py"]
    paths.append(pkg.parent / "__spark_entry__.py")
    found = [
        f"{path.relative_to(pkg.parent)}:{node.lineno} .{node.func.attr}()"
        for path in paths
        for node in ast.walk(ast.parse(path.read_text(encoding="utf-8")))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in _PERSIST_CALLS
    ]
    assert found == []


@pytest.mark.parametrize(
    "name", ["corpus_curation", "exactsubstr_chunks", "ann_ivf_pq_top5"]
)
def test_slot_repeat_invocation_does_not_leak_cache(spark, name):
    """The driver-gate slots that checkpoint intermediates: three
    back-to-back invocations (results dropped between them) may not grow
    the persistent set beyond the checkpoints each call owns."""
    import __spark_entry__ as entry

    q = entry.queries()[name]
    counts = []
    for _ in range(3):
        res = q(spark, SF_DIR)
        res.count()
        del res
        counts.append(_n_persistent(spark))
    # the persistent set can only hold GC-owned checkpoints awaiting the
    # ContextCleaner — which the NEXT call's sweep may or may not have
    # collected yet. corpus_curation owns THREE checkpoints per call (the
    # gate frame and the gopher/decon frontiers), so worst-case transient
    # growth is 3/call; a REAL leak (a cache that is never released) adds
    # a 4th per call and trips the bound. exactsubstr_chunks (the
    # span-subtracted frame) and ann_ivf_pq_top5 (the encoded corpus) own
    # 1/call.
    limit = 6 if name == "corpus_curation" else 2
    assert counts[2] - counts[0] <= limit, counts
