"""Seeded entity-resolution benchmark; see README.md."""
