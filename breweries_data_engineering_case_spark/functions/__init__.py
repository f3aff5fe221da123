"""Column-level expression helpers (all JVM-side, codegen-friendly)."""

from .cleaning import stamp_date

__all__ = ["stamp_date"]
