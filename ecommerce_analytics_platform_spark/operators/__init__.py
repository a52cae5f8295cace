"""Relational operators: dedup, sessionization, calendar, incremental
materialization, similarity search and the registry's analytics. Import
each from its own module; the package re-exports nothing, so importing one
operator does not load the others."""
