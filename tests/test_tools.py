"""The operational scripts under tools/: the maintenance CLI keeps the
lake intact, and every script named in the docs or the package exists
and compiles."""

from __future__ import annotations

import importlib.util
import re
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = REPO / "tools"


def _load_tool(name: str):
    spec = importlib.util.spec_from_file_location(f"tools_{name}", TOOLS / f"{name}.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_maintenance_compact_keeps_lake_searchable(spark, tmp_path, monkeypatch):
    """`--compact` rewrites raw through the engine's zone compaction, so
    the hive partitions survive and a later index_cdc still finds each
    record's partition: all 20 records become searchable."""
    from serverless_datalake_aws_spark import session
    from serverless_datalake_aws_spark.engine import DataLakeEngine

    root = str(tmp_path / "lake")
    eng = DataLakeEngine(spark, root)
    ids = eng.ingest_batch(
        [{"n": i, "text": f"alpha item{i}"} for i in range(20)], data_type="t"
    )
    assert len(ids) == 20
    # the CLI builds its own session; keep the suite's session conf as is
    monkeypatch.setattr(session, "get_session", lambda **_: spark)
    assert _load_tool("maintenance").main([root, "--compact", "128"]) == 0

    eng.index_cdc()
    found = {r["id"] for r in eng.search(term="alpha").select("id").collect()}
    assert found == set(ids)
    assert {r["indexed"] for r in eng.meta().collect()} == {True}
    assert list((tmp_path / "lake" / "raw" / "records").glob("data_type=*"))


def _named_tools() -> set[str]:
    """tools/<name>.py cited in the package, README.md and COVERAGE.md,
    except `git show <rev>:tools/<name>.py` pointers at deleted ones."""
    texts = [(REPO / f).read_text() for f in ("README.md", "COVERAGE.md")]
    texts += [p.read_text() for p in (REPO / "serverless_datalake_aws_spark").rglob("*.py")]
    return {m for t in texts for m in re.findall(r"(?<![:\w])tools/(\w+)\.py", t)}


def test_named_tools_exist():
    missing = sorted(n for n in _named_tools() if not (TOOLS / f"{n}.py").exists())
    assert missing == []


@pytest.mark.parametrize("path", sorted(TOOLS.glob("*.py")), ids=lambda p: p.name)
def test_tool_compiles(path):
    compile(path.read_text(), str(path), "exec")
