"""Steady sync + analytics benchmark; see NOTES.md and run.py."""
