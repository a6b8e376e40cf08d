"""Workload registry: name -> class taking a run context."""

from perfbench.cdc import CdcRefresh
from perfbench.star import StarBatch

WORKLOADS = {w.name: w for w in (StarBatch, CdcRefresh)}
