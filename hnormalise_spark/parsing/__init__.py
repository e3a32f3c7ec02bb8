"""Vectorized (JVM expression) field-extraction operators.

Each module re-expresses one of the reference's attoparsec parser
families (/root/reference/src/HNormalise/*/Parser.hs) as pure Spark
Column expressions: regexp extraction, str_to_map KV maps, and
higher-order array functions. No Python runs per row.
"""
