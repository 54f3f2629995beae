"""The driver contract is derived from one ordered gate tuple: every gate
declared in gates/ holds exactly one slot in __spark_entry__.GATES, and
queries()/oracle_sql() follow that order.  No Spark needed."""

import hashlib
import importlib
import json
import pkgutil

import __spark_entry__ as E
import gates


def _declared():
    out = []
    for mod in pkgutil.iter_modules(gates.__path__):
        m = importlib.import_module(f"gates.{mod.name}")
        out += [f for name, f in vars(m).items()
                if callable(f) and hasattr(f, "oracle")
                and f.__module__ == m.__name__]
    return out


def test_every_declared_gate_has_one_slot():
    names = [g.__name__ for g in E.GATES]
    assert len(names) == len(set(names))
    assert set(E.GATES) == set(_declared())


def test_contract_views_follow_gate_order():
    names = [g.__name__ for g in E.GATES]
    assert list(E.queries()) == names
    sql = E.oracle_sql()
    assert list(sql) == [g.__name__ for g in E.GATES
                         if g.oracle is not gates.ROWS_ONLY]
    assert all(isinstance(s, str) and s.strip() for s in sql.values())


# sha256 of the oracle text with the checkout's staging dir replaced by
# a fixed token; a change that alters an oracle on purpose updates this
# constant and says why
_ORACLE_SHA256 = \
    "9a1b2618c257dd67b5241852a9b56e5b94bb42185bbb0237607e99c033af0e82"


def test_oracle_text_is_pinned():
    text = json.dumps(E.oracle_sql(), sort_keys=True)
    assert gates._STAGE_DIR in text   # the token replaces a real path
    text = text.replace(gates._STAGE_DIR, "<oracle_stage>")
    assert hashlib.sha256(text.encode()).hexdigest() == _ORACLE_SHA256
