"""Tooling guard for bench.py (no Spark session needed).

bench.py's options are its path inputs only: every tier's rate and
window are table constants or plain function arguments, never env
knobs. And the streaming tier table must emit exactly the sections the
committed round record (BENCH_DETAIL.json / BENCH_TAIL.json) carries,
so the next full run stays comparable with it.
"""

import ast
import json
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
BENCH = ROOT / "bench.py"

# env var -> what it points at
ALLOWED_ENV = {
    "SPARK_GRAFT_SF_DIR": "the timed scale-factor directory",
    "SPARK_GRAFT_QUICK_SMALL": "--quick's full-catalog scale-factor directory",
    "SPARK_GRAFT_QUICK_BIG": "--quick's top-20 scale-factor directory",
}


def _is_environ(node) -> bool:
    return (
        isinstance(node, ast.Attribute)
        and node.attr == "environ"
        and isinstance(node.value, ast.Name)
        and node.value.id == "os"
    )


def _env_reads(tree) -> list:
    """Every named env read: os.environ.get(k), os.environ[k],
    os.getenv(k), k in os.environ. A non-literal name reads as None."""
    reads = []
    for node in ast.walk(tree):
        key = False
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.args:
            f = node.func
            if (f.attr == "get" and _is_environ(f.value)) or (
                f.attr == "getenv" and isinstance(f.value, ast.Name) and f.value.id == "os"
            ):
                key = node.args[0]
        elif isinstance(node, ast.Subscript) and _is_environ(node.value):
            key = node.slice
        elif isinstance(node, ast.Compare) and any(_is_environ(c) for c in node.comparators):
            key = node.left
        if key is not False:
            reads.append(key.value if isinstance(key, ast.Constant) else None)
    return reads


def test_bench_reads_only_path_env_vars():
    reads = _env_reads(ast.parse(BENCH.read_text()))
    assert set(reads) == set(ALLOWED_ENV), sorted(map(str, reads))


def test_env_guard_sees_every_read_form():
    src = (
        "import os\n"
        "a = os.environ.get('A', '1')\n"
        "b = os.environ['B']\n"
        "c = os.getenv('C')\n"
        "d = 'D' in os.environ\n"
        "e = os.environ.get(name)\n"
        "f = {**os.environ, 'F': '1'}\n"  # pass-through, not a read
    )
    assert sorted(_env_reads(ast.parse(src)), key=str) == ["A", "B", "C", "D", None]


def test_tier_table_matches_committed_record():
    import bench

    detail = json.loads((ROOT / "BENCH_DETAIL.json").read_text())
    tail = json.loads((ROOT / "BENCH_TAIL.json").read_text())
    sections = {k for k in detail if k.startswith("streaming_") and k != "streaming_lines_per_sec"}
    assert {bench.SECTIONS[k] for k in bench.MAIN_STREAMS} == sections
    assert list(bench.MAIN_STREAMS) == list(tail["streams"])
    for key in bench.MAIN_STREAMS:
        sec = detail[bench.SECTIONS[key]]
        if key in bench.SWEEPS:
            for rung in sec["rates"].values():
                assert set(rung) == set(bench.SWEEP_RUNG_KEYS)
