"""Design pin: the capture layer runs on Arrow record batches, not pandas.

``operators/``, ``formats/``, ``functions/`` and ``sources/`` use no pandas
at all.  In ``streaming/`` the one pandas API is ``applyInPandasWithState``,
PySpark's only ``GroupState`` API; the records inside it still go through
the Arrow record loop.
"""

import pathlib
import re

import pytest

PKG = pathlib.Path(__file__).resolve().parent.parent / "kafka_error_handling_spark"

_PANDAS = re.compile(
    r"^\s*(import\s+pandas|from\s+pandas\b)|pandas_udf|\w*InPandas\w*|toPandas"
)


def _uses(sub: str) -> list:
    """``path:line: match`` for each pandas use in ``PKG/sub``."""
    out = []
    for path in sorted((PKG / sub).rglob("*.py")):
        for n, line in enumerate(path.read_text().splitlines(), 1):
            for m in _PANDAS.finditer(line):
                out.append(f"{path.relative_to(PKG)}:{n}: {m.group(0).strip()}")
    return out


@pytest.mark.parametrize("sub", ["operators", "formats", "functions", "sources"])
def test_no_pandas_on_the_record_path(sub):
    assert _uses(sub) == []


def test_streaming_uses_pandas_only_for_group_state():
    uses = _uses("streaming")
    assert uses, "the stateful wrapper is expected at the applyInPandasWithState boundary"
    assert [u for u in uses if not u.endswith(": applyInPandasWithState")] == []
