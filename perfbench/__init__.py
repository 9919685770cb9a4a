"""End-to-end and per-layer benchmark of the search engine (see README.md)."""
