"""Scalar rules, one module per family (dates, cleaning, hashing,
rounding, tokens, business, codecs); most carry a DuckDB SQL twin."""
