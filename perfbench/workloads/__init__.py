"""The benchmark's workloads, by the name ``--workload`` takes."""

from workloads.corpus_dedup import CorpusDedup
from workloads.ingest import Ingest

WORKLOADS = {w.name: w for w in (Ingest, CorpusDedup)}
