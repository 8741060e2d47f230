"""Vectorized functions: the engine's only Python-on-rows surface (Arrow
UDFs) plus JVM-side column helpers."""
