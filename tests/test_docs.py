"""The API reference pages (docs/api-<plane>.md) are generated from
the package's docstrings by docs/gen_api.py; a committed page must be
byte-equal to what the generator writes from the current code."""

import importlib.util
import os

import pytest

DOCS = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "docs")


def _gen_api():
    spec = importlib.util.spec_from_file_location(
        "gen_api", os.path.join(DOCS, "gen_api.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


GEN_API = _gen_api()


@pytest.mark.parametrize("plane", sorted(GEN_API.PLANES))
def test_api_page_is_current(plane, tmp_path):
    fresh, _ = GEN_API.emit(plane, GEN_API.PLANES[plane], str(tmp_path))
    with open(fresh, "rb") as f:
        got = f.read()
    with open(os.path.join(DOCS, "api-{}.md".format(plane)), "rb") as f:
        committed = f.read()
    assert got == committed, (
        "docs/api-{}.md is stale; regenerate it with "
        "`PYTHONPATH=. python docs/gen_api.py`".format(plane))
