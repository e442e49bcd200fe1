"""Session defaults that are pure functions of the master URL."""

from __future__ import annotations

import os

from corporate_knowledge_extractor_spark.session import default_shuffle_partitions


def test_default_shuffle_partitions():
    """local[N] and local[N,F] give N; every other master (local[*],
    local-cluster[...]) gives the host's core count."""
    cores = os.cpu_count() or 8
    assert default_shuffle_partitions("local[2]") == 2
    assert default_shuffle_partitions("local[2,3]") == 2
    assert default_shuffle_partitions("local[*]") == cores
    assert default_shuffle_partitions("local-cluster[2,2,1024]") == cores
