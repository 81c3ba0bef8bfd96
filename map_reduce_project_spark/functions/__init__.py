"""Exact-arithmetic helpers, UDAFs and Python UDTFs."""
