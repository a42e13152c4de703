"""CDC benchmark: see README.md."""
