"""klogs traffic benchmark (see NOTE.md); entry point is run.py."""
