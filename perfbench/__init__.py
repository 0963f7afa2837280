"""End-to-end benchmark of the Graph-RAG engine; run it with ``python3 perfbench/run.py``."""
