"""One home for the vector kernels, enforced: the Spark fold
(zip_with) and its DuckDB twin (list_reduce over generate_series) may
only be spelled out in functions/vector.py.  Every other module calls
vector.dot / norm / sq_l2 / sq8_int_dot and their *_sql twins, so the
bit-parity contract between the engines has exactly one copy."""
from __future__ import annotations

import pathlib

PKG = pathlib.Path(__file__).resolve().parent.parent / "etl_addresses_spark"
HOME = PKG / "functions" / "vector.py"

KERNEL_SPELLINGS = [
    "F.zip_with(",
    "list_reduce(list_transform(generate_series(1, len(",
]


def test_vector_kernels_live_only_in_vector_module():
    offenders = [
        f"{path.relative_to(PKG)}: {needle}"
        for path in sorted(PKG.rglob("*.py"))
        if path != HOME
        for needle in KERNEL_SPELLINGS
        if needle in path.read_text()
    ]
    assert not offenders, (
        f"vector kernel spelled outside functions/vector.py: {offenders}; "
        "call the shared kernel (or add a tier to it) instead"
    )


def test_vector_module_holds_the_kernels():
    src = HOME.read_text()
    for needle in KERNEL_SPELLINGS:
        assert needle in src, needle
