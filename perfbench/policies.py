"""Seeded policy stores for the benchmark users.

``gateway_store`` builds the corpus users: ``USERS_PER_ROLE`` users in each of
``ROLES``. A role fixes which tables and columns carry a policy and which
mask type each column gets; the seed only picks the literals inside the
row-filter conditions and the order the policies are inserted. So every
seed gives a store of the same size whose rewritten SQL has the same shape,
and the per-op cost does not move with the seed.

``scan_policies`` builds the ``people`` users of the execution workload: one
row filter and one column per mask type.
"""

from __future__ import annotations

import random

from flink_sql_security_spark.policy import DataMaskPolicy, RowFilterPolicy

from perfbench.data import PEOPLE_REGIONS

USERS_PER_ROLE = 16
CUSTOM_TEMPLATE = "concat(substring({col}, 1, 2), repeat('*', 6))"

# table → (condition template, literal choices); {v} is filled from the seed
_FILTERS = {
    "orders": ("o_totalprice > {v}", [50000, 100000, 150000, 200000]),
    "customer": ("c_mktsegment <> '{v}'",
                 ["AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "MACHINERY"]),
    "lineitem": ("l_quantity <= {v}", [30, 35, 40, 45]),
    "supplier": ("s_nationkey % 5 <> {v}", [0, 1, 2, 3, 4]),
    "part": ("p_size > {v}", [5, 10, 15, 20]),
    "nation": ("n_regionkey <> {v}", [0, 1, 2, 3, 4]),
    "events": ("user_id % 10 <> {v}", list(range(10))),
}
# A second row filter on a table that already has one never matches first;
# it keeps first-match-wins in every lookup and would empty the table if
# the lookup order broke.
SHADOWED = "1 = 0"

# role → row-filter tables, masks as (table, column, mask type), shadowed table
ROLES: dict[str, tuple[list[str], list[tuple[str, str, str]], str | None]] = {
    "filter": (["orders", "customer", "lineitem", "supplier", "part",
                "nation"], [], "orders"),
    "mask": ([], [("customer", "c_name", "MASK_SHOW_FIRST_4"),
                  ("supplier", "s_name", "MASK"),
                  ("part", "p_name", "MASK_SHOW_LAST_4"),
                  ("customer", "c_mktsegment", "MASK"),
                  ("nation", "n_name", "MASK_HASH"),
                  ("part", "p_brand", "MASK")], None),
    "mixed": (["orders", "customer"],
              [("customer", "c_name", "MASK_SHOW_FIRST_4"),
               ("orders", "o_orderdate", "MASK_DATE_SHOW_YEAR"),
               ("supplier", "s_name", "MASK_HASH"),
               ("part", "p_name", "MASK")], "customer"),
    "hash": (["lineitem"], [("customer", "c_name", "MASK_HASH"),
                            ("supplier", "s_name", "MASK_HASH"),
                            ("part", "p_name", "MASK_HASH"),
                            ("nation", "n_name", "MASK_HASH"),
                            ("orders", "o_orderpriority", "MASK_HASH")],
             None),
    "null": (["part"], [("customer", "c_name", "MASK_NULL"),
                        ("customer", "c_acctbal", "MASK_NULL"),
                        ("supplier", "s_acctbal", "MASK_NULL"),
                        ("orders", "o_totalprice", "MASK_NULL"),
                        ("lineitem", "l_returnflag", "MASK_NULL")], None),
    "date": (["orders", "lineitem", "events"],
             [("orders", "o_orderdate", "MASK_DATE_SHOW_YEAR"),
              ("lineitem", "l_shipdate", "MASK_DATE_SHOW_YEAR"),
              ("events", "ts", "MASK_DATE_SHOW_YEAR")], "lineitem"),
    "custom": (["customer", "supplier", "part"],
               [("customer", "c_name", "CUSTOM"),
                ("supplier", "s_name", "CUSTOM"),
                ("part", "p_name", "CUSTOM")], None),
    "none": ([], [], None),
}


def _mask(user: str, table: str, column: str, kind: str) -> DataMaskPolicy:
    return DataMaskPolicy(
        user, table, column, kind,
        custom_transformer=CUSTOM_TEMPLATE if kind == "CUSTOM" else None)


def role_users(role: str) -> list[str]:
    return [f"{role}_{i:02d}" for i in range(USERS_PER_ROLE)]


def gateway_store(seed: int) -> list:
    """Every corpus-user policy; users are inserted in seeded order."""
    rng = random.Random(seed * 7919 + 1)
    users = [(role, u) for role in ROLES for u in role_users(role)]
    rng.shuffle(users)
    policies = []
    for role, user in users:
        filters, masks, shadowed = ROLES[role]
        for table in filters:
            template, values = _FILTERS[table]
            policies.append(RowFilterPolicy(
                user, table, template.format(v=rng.choice(values))))
        policies.extend(_mask(user, *m) for m in masks)
        if shadowed:
            policies.append(RowFilterPolicy(user, shadowed, SHADOWED))
    return policies


def shadow_writes(seed: int) -> list[RowFilterPolicy]:
    """Policies the gateway adds and later removes: each shadows a row
    filter its user already has, so no rewrite output changes."""
    rng = random.Random(seed * 7919 + 2)
    out = []
    for role, (filters, _, _) in ROLES.items():
        for user in role_users(role) if filters else []:
            out.append(RowFilterPolicy(user, rng.choice(filters), SHADOWED))
    rng.shuffle(out)
    return out


# people column → mask type; one column per mask type the registry defines
SCAN_MASKS = {
    "full_name": "MASK",
    "email": "MASK_SHOW_FIRST_4",
    "card": "MASK_SHOW_LAST_4",
    "ssn": "MASK_HASH",
    "address": "MASK_NULL",
    "birth_date": "MASK_DATE_SHOW_YEAR",
    "phone": "CUSTOM",
}
SCAN_USERS = ["scan_0", "scan_1"]


def scan_policies(seed: int) -> tuple[list, dict[str, str]]:
    """(policies, user → row-filter condition) for ``SCAN_USERS``. Each
    filter drops one of the four regions, so every user keeps ~3/4 rows."""
    rng = random.Random(seed * 7919 + 3)
    policies, conditions = [], {}
    for user in SCAN_USERS:
        conditions[user] = f"region <> '{rng.choice(PEOPLE_REGIONS)}'"
        policies.append(RowFilterPolicy(user, "people", conditions[user]))
        policies.extend(_mask(user, "people", c, k)
                        for c, k in SCAN_MASKS.items())
    return policies, conditions


def mask_probe_policies() -> dict[str, tuple[str, DataMaskPolicy]]:
    """mask type → (column, single-mask policy of a probe user)."""
    return {k: (c, _mask(f"probe_{k.lower()}", "people", c, k))
            for c, k in SCAN_MASKS.items()}
