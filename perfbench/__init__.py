"""End-to-end benchmark of the banking engine; see ``perfbench/README.md``."""
