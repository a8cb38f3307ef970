"""The benchmark's workloads, by name."""

from __future__ import annotations


def get(name: str):
    if name == "hier_report":
        from perfbench.workloads.hier_report import HierReport
        return HierReport()
    if name == "corpus_curation":
        from perfbench.workloads.corpus_curation import CorpusCuration
        return CorpusCuration()
    if name == "table_maintenance":
        from perfbench.workloads.table_maintenance import TableMaintenance
        return TableMaintenance()
    raise KeyError(name)


NAMES = ("hier_report", "corpus_curation", "table_maintenance")
