"""Seeded closed-loop benchmark of the RAG engine (see NOTES.md)."""
