"""In-memory policy store with first-match-wins lookup.

Parity target: ``PolicyManager.java:49-113`` — linear scan over an insertion-
ordered list, first matching policy wins (scanned per user here: a lookup
reads only the policies of its user, in the same order), plus the mask-type
registry loaded from the packaged ``mask_types.json`` (same 8 entries and
itemIds as the reference's ``resources/data_mask_types.json:1-63``).

Matching deviation (documented): the reference compares exact 3-part paths
because Calcite validation force-expands every table ref to
``catalog.database.table``. Our qualify pass keeps paths as written (Spark temp
views have no catalog.database home), so a policy matches when its trailing
path components equal the written table path and unset policy fields act as
wildcards. All reference golden cases behave identically.
"""

from __future__ import annotations

import json
from importlib import resources
from typing import Callable, Optional

from ..plans.nodes import Node, copy_tree
from .models import DataMaskPolicy, DataMaskType, RowFilterPolicy


def _load_mask_types() -> list[DataMaskType]:
    raw = json.loads(
        resources.files("flink_sql_security_spark.policy")
        .joinpath("mask_types.json")
        .read_text()
    )
    return [
        DataMaskType(
            item_id=e["itemId"],
            name=e["name"],
            label=e["label"],
            description=e["description"],
            transformer=e.get("transformer"),
            data_mask_options=e.get("dataMaskOptions", {}),
        )
        for e in raw
    ]


def _norm(s: Optional[str]) -> Optional[str]:
    return s.lower() if s is not None else None


# the two policy lists of a user in PolicyManager._by_user
_ROW_FILTERS, _MASKS = 0, 1


def _lowered(parts: list[str]) -> tuple[str, ...]:
    return tuple(p.lower() for p in parts)


def _table_matches(policy_path: tuple[str, ...],
                   written: tuple[str, ...]) -> bool:
    """Policy path must be a suffix-compatible match of the written ref:
    the table names and the qualifiers both paths have, compared from the
    right, are equal (both lowercased)."""
    n = min(len(policy_path), len(written))
    return (policy_path[-1] == written[-1]
            and policy_path[-n:] == written[-n:])


class PolicyManager:
    """Policies in insertion order, indexed by user.

    ``_by_user`` maps a username to that user's row-filter and mask
    policies, each list in insertion order and each policy beside its
    lowercased table path, so a lookup scans only the user's own policies
    and first-match-wins is unchanged. ``_compiled`` holds the parsed
    condition or mask template ASTs (:meth:`compiled`); it is keyed on
    their text, so it never goes stale and holds one entry per distinct
    text this manager has compiled.
    """

    def __init__(self) -> None:
        self._row_filter_policies: list[RowFilterPolicy] = []
        self._data_mask_policies: list[DataMaskPolicy] = []
        self._by_user: dict[str, tuple[list, list]] = {}
        self._mask_types: list[DataMaskType] = _load_mask_types()
        self._mask_type_by_name = {t.name: t for t in self._mask_types}
        self._compiled: dict[tuple, Node] = {}

    # -- policy CRUD (PolicyManager.java:99-113) ---------------------------
    def add_policy(self, policy) -> None:
        if isinstance(policy, RowFilterPolicy):
            slot, store = _ROW_FILTERS, self._row_filter_policies
        elif isinstance(policy, DataMaskPolicy):
            slot, store = _MASKS, self._data_mask_policies
        else:
            raise TypeError(f"unsupported policy type: {type(policy).__name__}")
        store.append(policy)
        self._by_user.setdefault(policy.username, ([], []))[slot].append(
            (_lowered(policy.table_path()), policy))

    def remove_policy(self, policy) -> bool:
        """Remove the first policy equal to ``policy``; False if none is."""
        for slot, store in enumerate((self._row_filter_policies,
                                      self._data_mask_policies)):
            if policy in store:
                store.remove(policy)
                own = self._by_user[policy.username][slot]
                del own[[p for _, p in own].index(policy)]
                return True
        return False

    @property
    def row_filter_policies(self) -> list[RowFilterPolicy]:
        return list(self._row_filter_policies)

    @property
    def data_mask_policies(self) -> list[DataMaskPolicy]:
        return list(self._data_mask_policies)

    # -- matching ----------------------------------------------------------
    def _own(self, username: str, slot: int) -> list:
        """(lowercased table path, policy) of one user's row filters
        (``_ROW_FILTERS``) or masks (``_MASKS``), in insertion order."""
        lists = self._by_user.get(username)
        return lists[slot] if lists is not None else []

    def holds_row_filters(self, username: str) -> bool:
        return bool(self._own(username, _ROW_FILTERS))

    def holds_masks(self, username: str) -> bool:
        return bool(self._own(username, _MASKS))

    def get_row_filter_condition(
        self, username: str, table_parts: list[str]
    ) -> Optional[str]:
        """First matching row-filter condition (PolicyManager.java:61-72)."""
        written = _lowered(table_parts)
        for path, p in self._own(username, _ROW_FILTERS):
            if _table_matches(path, written):
                return p.condition
        return None

    def get_data_mask_policy(
        self, username: str, table_parts: list[str], column_name: str
    ) -> Optional[DataMaskPolicy]:
        """First matching mask policy for a column (PolicyManager.java:74-86)."""
        written, column = _lowered(table_parts), _norm(column_name)
        for path, p in self._own(username, _MASKS):
            if (_norm(p.column_name) == column
                    and _table_matches(path, written)):
                return p
        return None

    def get_table_mask_policies(
        self, username: str, table_parts: list[str]
    ) -> dict[str, DataMaskPolicy]:
        """column (lower) → first matching policy, for one table ref."""
        written = _lowered(table_parts)
        out: dict[str, DataMaskPolicy] = {}
        for path, p in self._own(username, _MASKS):
            if _table_matches(path, written):
                key = _norm(p.column_name) or ""
                if key not in out:  # first match wins
                    out[key] = p
        return out

    def compiled(self, key: tuple, build: Callable[[], Node]) -> Node:
        """A fresh copy of the AST ``build()`` returns for ``key``; the
        build runs on the key's first use only. Callers key it on the text
        they parse (a condition; a mask template and its column), so each
        is parsed once per manager and every rewrite owns its copy."""
        node = self._compiled.get(key)
        if node is None:
            node = self._compiled[key] = build()
        return copy_tree(node)

    # -- mask type registry (PolicyManager.java:88-97) ---------------------
    @property
    def mask_types(self) -> list[DataMaskType]:
        return list(self._mask_types)

    def get_data_mask_type(self, name: str) -> DataMaskType:
        try:
            return self._mask_type_by_name[name]
        except KeyError:
            raise KeyError(f"unknown data mask type: {name}") from None


def load_policies_json(manager: "PolicyManager", path: str) -> int:
    """Load row-filter / data-mask policies from a JSON file into
    ``manager`` (append, preserving file order — first-match-wins applies
    across existing + loaded policies in insertion order).

    File shape (both keys optional)::

        {
          "row_filters": [{"username": ..., "table_name": ...,
                           "condition": ..., "catalog_name"?, "database"?}],
          "data_masks":  [{"username": ..., "table_name": ...,
                           "column_name": ..., "condition": ...,
                           "catalog_name"?, "database"?,
                           "custom_transformer"?}]
        }

    The operational counterpart of the reference's JSON-resource mask
    registry: policy sets become reviewable config artifacts instead of
    imperative ``add_policy`` call sites. Returns the number loaded;
    unknown keys in an entry raise (typo protection — a silently dropped
    security policy is an access-control hole).
    """
    with open(path) as f:
        raw = json.load(f)
    unknown_top = set(raw) - {"row_filters", "data_masks"}
    if unknown_top:
        raise ValueError(f"unknown policy sections: {sorted(unknown_top)}")
    n = 0
    for e in raw.get("row_filters", []):
        manager.add_policy(RowFilterPolicy(**e))
        n += 1
    for e in raw.get("data_masks", []):
        manager.add_policy(DataMaskPolicy(**e))
        n += 1
    return n
