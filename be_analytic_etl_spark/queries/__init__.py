"""Registered queries grouped by domain; see registry.py."""
