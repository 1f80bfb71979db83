"""Scalar function library: mask family (Hive semantics on Spark built-ins)."""

from .masks import (  # noqa: F401
    instantiate_transformer, is_hive_mask_call, lower_hive_masks,
    lower_mask_call,
)
