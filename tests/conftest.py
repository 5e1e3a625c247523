from __future__ import annotations

import contextlib
import sys
from pathlib import Path

import pytest

# the checkout this conftest sits in, so pytest tests its own package
ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_SMALL = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from etl_framework_spark.session import get_spark, prep

    # prep here, not in the first key a test happens to run: it sets
    # some confs once per session, so they belong in every test's
    # starting snapshot (see _restore_sql_confs)
    s = prep(get_spark("pytest"))
    yield s


@pytest.fixture(autouse=True)
def _restore_sql_confs(request):
    """Each Spark test starts from the runtime confs the one before it
    started from: snapshot them, run the test, then set back every key
    the test changed and unset every key it added."""
    if "spark" not in request.fixturenames:
        yield
        return
    conf = request.getfixturevalue("spark").conf
    before = conf.getAll
    yield
    after = conf.getAll
    for key in after.keys() - before.keys():
        conf.unset(key)
    for key, value in before.items():
        if after.get(key) != value:
            conf.set(key, value)


@pytest.fixture(scope="session")
def duck():
    import tools.check as check

    return check.duck_connect(SF_SMALL)


@pytest.fixture
def force_fallback(monkeypatch):
    """A context manager: inside it every capped collect reports its
    cap exceeded, so each guarded fold takes its distributed fallback
    and each raise site raises."""
    from etl_framework_spark.operators import guarded

    @contextlib.contextmanager
    def forced():
        with monkeypatch.context() as m:
            m.setattr(guarded, "collect_capped", lambda df, cap: None)
            yield

    return forced
