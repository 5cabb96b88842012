"""Scalar-function layer (SURVEY.md §2.8 F1–F16) — all Catalyst-native
Column expressions, zero Python UDFs."""
