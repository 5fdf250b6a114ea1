"""Seeded benchmark of the streaming spine and the batch contract queries."""
