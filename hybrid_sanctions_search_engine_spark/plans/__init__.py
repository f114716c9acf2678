"""Driver-side query plans: indexed top-k BM25, hybrid escalation."""
