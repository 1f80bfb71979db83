"""PolicyManager + mask-type registry unit tests.

Parity target: ``test/PolicyManagerTest.java:37-48`` (registry contents
verbatim) and the first-match lookup semantics of ``PolicyManager.java:61-97``.
"""

import pytest

from flink_sql_security_spark.policy import (
    DataMaskPolicy, PolicyManager, RowFilterPolicy,
)


@pytest.fixture
def manager():
    m = PolicyManager()
    m.add_policy(RowFilterPolicy("user_A", "orders", "region = 'beijing'"))
    m.add_policy(RowFilterPolicy("user_B", "orders", "region = 'hangzhou'"))
    m.add_policy(DataMaskPolicy("user_A", "orders", "customer_name", "MASK"))
    m.add_policy(DataMaskPolicy("user_B", "orders", "customer_name", "MASK_SHOW_FIRST_4"))
    return m


def test_registry_contents_verbatim(manager):
    # same 8 entries and itemIds as resources/data_mask_types.json:1-63
    types = {t.item_id: t.name for t in manager.mask_types}
    assert types == {
        1: "MASK", 2: "MASK_SHOW_LAST_4", 3: "MASK_SHOW_FIRST_4",
        4: "MASK_HASH", 5: "MASK_NULL", 6: "MASK_NONE",
        12: "MASK_DATE_SHOW_YEAR", 13: "CUSTOM",
    }
    assert manager.get_data_mask_type("MASK").transformer == "mask({col})"
    assert manager.get_data_mask_type("MASK_SHOW_FIRST_4").transformer == \
        "mask_show_first_n({col}, 4, 'x', 'x', 'x', -1, '1')"
    assert manager.get_data_mask_type("MASK_NULL").transformer is None
    with pytest.raises(KeyError):
        manager.get_data_mask_type("NOPE")


def test_row_filter_lookup_per_user(manager):
    assert manager.get_row_filter_condition("user_A", ["orders"]) == "region = 'beijing'"
    assert manager.get_row_filter_condition("user_B", ["orders"]) == "region = 'hangzhou'"
    assert manager.get_row_filter_condition("user_C", ["orders"]) is None
    assert manager.get_row_filter_condition("user_A", ["products"]) is None


def test_first_match_wins(manager):
    manager.add_policy(RowFilterPolicy("user_A", "orders", "region = 'shanghai'"))
    assert manager.get_row_filter_condition("user_A", ["orders"]) == "region = 'beijing'"


def test_qualified_path_matching():
    m = PolicyManager()
    m.add_policy(RowFilterPolicy("u", "orders", "x = 1",
                                 catalog_name="spark_catalog", database="default"))
    # unqualified written ref matches a fully-qualified policy
    assert m.get_row_filter_condition("u", ["orders"]) == "x = 1"
    assert m.get_row_filter_condition("u", ["default", "orders"]) == "x = 1"
    assert m.get_row_filter_condition("u", ["spark_catalog", "default", "orders"]) == "x = 1"
    # mismatched database does not match
    assert m.get_row_filter_condition("u", ["otherdb", "orders"]) is None
    assert m.get_row_filter_condition("u", ["other_orders"]) is None


def test_mask_lookup(manager):
    p = manager.get_data_mask_policy("user_A", ["orders"], "customer_name")
    assert p is not None and p.condition == "MASK"
    assert manager.get_data_mask_policy("user_A", ["orders"], "region") is None
    by_col = manager.get_table_mask_policies("user_B", ["orders"])
    assert set(by_col) == {"customer_name"}
    assert by_col["customer_name"].condition == "MASK_SHOW_FIRST_4"


def test_remove_policy(manager):
    p = RowFilterPolicy("user_A", "orders", "region = 'beijing'")
    assert manager.remove_policy(p) is True
    assert manager.get_row_filter_condition("user_A", ["orders"]) is None
    assert manager.remove_policy(p) is False


def test_load_policies_json(tmp_path):
    import json

    from flink_sql_security_spark.policy.manager import (
        PolicyManager, load_policies_json,
    )

    p = tmp_path / "policies.json"
    p.write_text(json.dumps({
        "row_filters": [
            {"username": "alice", "table_name": "orders",
             "condition": "region = 'beijing'"},
        ],
        "data_masks": [
            {"username": "alice", "table_name": "orders",
             "column_name": "customer_name", "condition": "MASK"},
        ],
    }))
    m = PolicyManager()
    assert load_policies_json(m, str(p)) == 2
    assert m.get_row_filter_condition("alice", ["orders"]) == "region = 'beijing'"
    assert m.get_data_mask_policy("alice", ["orders"], "customer_name") is not None


def test_load_policies_json_rejects_unknown_fields(tmp_path):
    import json

    import pytest as _pytest

    from flink_sql_security_spark.policy.manager import (
        PolicyManager, load_policies_json,
    )

    p = tmp_path / "bad.json"
    p.write_text(json.dumps({"row_filters": [
        {"username": "a", "table_name": "t", "condition": "x = 1",
         "tablename_typo": "oops"}]}))
    with _pytest.raises(TypeError):
        load_policies_json(PolicyManager(), str(p))
    p2 = tmp_path / "bad2.json"
    p2.write_text(json.dumps({"row_fitlers": []}))
    with _pytest.raises(ValueError):
        load_policies_json(PolicyManager(), str(p2))


def _reference_lookups(policies, user, parts, column):
    """First-match-wins by linear scan over every policy in insertion
    order: the lookups the per-user index must reproduce."""
    written = [p.lower() for p in parts]

    def matches(p):
        path = [x.lower() for x in p.table_path()]
        n = min(len(path), len(written))
        return p.username == user and path[-n:] == written[-n:]

    rows = [p for p in policies
            if isinstance(p, RowFilterPolicy) and matches(p)]
    masks = [p for p in policies
             if isinstance(p, DataMaskPolicy) and matches(p)]
    by_col = {}
    for p in masks:
        by_col.setdefault(p.column_name.lower(), p)
    col = [p for p in masks if p.column_name.lower() == column.lower()]
    return (rows[0].condition if rows else None,
            col[0] if col else None, by_col)


def test_user_index_fuzz_matches_linear_scan():
    """Random add/remove sequences: every lookup equals a linear scan over
    all policies. The pools are small, so policies shadow each other,
    equal policies are added twice and one of two equal ones is removed."""
    import dataclasses
    import random

    rng = random.Random(20261019)
    users = ["u1", "u2", "U1"]
    tables = [("orders", None, None), ("orders", "db", None),
              ("ORDERS", "db", "cat"), ("items", None, None)]
    refs = [["orders"], ["db", "orders"], ["cat", "db", "Orders"],
            ["other", "orders"], ["items"], ["x", "db", "orders"]]

    def random_policy():
        user, (table, db, cat) = rng.choice(users), rng.choice(tables)
        if rng.random() < 0.5:
            return RowFilterPolicy(user, table, f"x = {rng.randint(0, 2)}",
                                   catalog_name=cat, database=db)
        return DataMaskPolicy(user, table, rng.choice(["a", "B"]),
                              rng.choice(["MASK", "MASK_HASH"]),
                              catalog_name=cat, database=db)

    for _ in range(30):
        m, added = PolicyManager(), []
        for _ in range(60):
            if added and rng.random() < 0.3:
                p = rng.choice(added)
                assert m.remove_policy(p) is True
                added.remove(p)  # the first equal one, like the manager
            else:
                p = random_policy()
                if added and rng.random() < 0.2:
                    # an equal, distinct object: which one a remove takes
                    # shows in the identity checks below
                    p = dataclasses.replace(rng.choice(added))
                m.add_policy(p)
                added.append(p)
            assert m.row_filter_policies + m.data_mask_policies == (
                [p for p in added if isinstance(p, RowFilterPolicy)]
                + [p for p in added if isinstance(p, DataMaskPolicy)])
            for user in users + ["nobody"]:
                for parts in refs:
                    for column in ("a", "b"):
                        cond, col, by_col = _reference_lookups(
                            added, user, parts, column)
                        assert m.get_row_filter_condition(user, parts) == cond
                        assert m.get_data_mask_policy(
                            user, parts, column) is col
                        got = m.get_table_mask_policies(user, parts)
                        assert got.keys() == by_col.keys()
                        assert all(got[k] is by_col[k] for k in got)
        for p in list(added):
            assert m.remove_policy(p) is True
        assert m.remove_policy(RowFilterPolicy("u1", "orders", "x = 0")) \
            is False
