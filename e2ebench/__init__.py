"""End-to-end benchmark of the pmocr-spark engine (see README.md)."""
