"""Operators that hide an algorithm behind one call.

The v0 surface (scan, filter, project, SimpleAgg/HashAgg) and the plain
extension operators (sort, limit, set ops, broadcast joins) are single
DataFrame calls written inline in ``queries.py``; Catalyst owns physical
strategy selection (the reference hand-rolls SimpleAgg vs HashAgg at
src/optimizer/physical_rewriter.rs:33-46). What lives here is more than one
call: ``join`` (as-of, bucketed as-of, range, salted) and ``window``
(per-group top-k).
"""
