"""The order of ``queries()`` (no Spark session needed).

Each correctness round checks a bounded prefix of ``queries()``, so after the
sentinels and last round's red entries the order must rotate strictly by
staleness: an entry whose last green row is newer never comes before one
whose last green row is older.
"""

from __future__ import annotations

import __spark_entry__ as e


def test_order_is_stalest_green_first_after_the_front():
    names = e._ordered_names()
    history = e._verified_history()
    front = (set(e._SENTINELS) | e._erred_last_round()) & set(names)

    assert set(names[: len(front)]) == front
    keys = [history.get(n, (0, 0)) for n in names[len(front):]]
    assert keys == sorted(keys)
