"""Extraction benchmark: workloads, oracle, process-tree metrics, ledger."""
