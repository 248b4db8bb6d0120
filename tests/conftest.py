from __future__ import annotations

import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_SMALL = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def file_tree(path: str) -> dict:
    """(relative path -> (size, mtime_ns)) of every file under *path*:
    equal before and after a call means the call wrote nothing."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime_ns)
    return out


@pytest.fixture(scope="session")
def spark():
    from msg_vector_search_spark.session import get_spark
    s = get_spark("pytest", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL


@pytest.fixture
def crash_after_erasure_manifest(monkeypatch):
    """A callable that arms one crash inside the next erasure commit:
    after its manifest is written, before its first swap.
    ``sinks._finish_pending_delete`` raises the first time it finds a
    manifest (the heals a verb runs before it stages find none) and is
    restored as it raises.  The callable returns the raised type."""
    from msg_vector_search_spark.sources import sinks

    class ErasureCrash(RuntimeError):
        pass

    real = sinks._finish_pending_delete

    def crash(path):
        if os.path.exists(os.path.join(path, sinks.DELETE_MANIFEST)):
            monkeypatch.setattr(sinks, "_finish_pending_delete", real)
            raise ErasureCrash("injected crash before the erasure swaps")
        return real(path)

    def arm():
        monkeypatch.setattr(sinks, "_finish_pending_delete", crash)
        return ErasureCrash

    return arm
