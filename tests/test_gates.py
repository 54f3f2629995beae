"""The driver contract is derived from one ordered gate tuple: every gate
declared in gates/ holds exactly one slot in __spark_entry__.GATES, and
queries()/oracle_sql() follow that order.  No Spark needed."""

import importlib
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
