"""Scalar/aggregate function surface (reference: SURVEY.md §2.9 —
src/core_functions/function_list.cpp registers 382 names).

``registry`` maps DuckDB function names onto Spark Column builders;
``compat`` holds the money/ratio aggregation helpers: decimal-cast
(order-independent, engine-identical) in the default exact mode, plain
doubles in the benchmarks' float mode.
"""
