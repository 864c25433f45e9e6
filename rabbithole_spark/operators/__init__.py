"""Reusable distributed operators — the engine's operator library.

Each operator is a plain DataFrame -> DataFrame transformation built on
Catalyst-visible primitives (joins, windows, aggregates), so pushdown,
AQE, and whole-stage codegen apply. Pandas UDFs appear only where the
built-ins genuinely cannot express the semantics (see similarity.py,
multimodal.py).
"""
