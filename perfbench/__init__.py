"""End-to-end benchmark of the flow engine (see README.md)."""
