"""Repository benchmark: see perfbench/NOTES.md."""
