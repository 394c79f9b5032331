"""Compatibility alias: fuzzy candidates come from the signature join in
operators/linking.py, for every dictionary size. Nothing in the engine
imports this module; it keeps the old `fuzzy_candidates_arrow` name
importable for callers that still patch it."""

from .linking import fuzzy_candidates as fuzzy_candidates_arrow  # noqa: F401
