"""Engine operators (SURVEY.md §2.B), each Spark-first:

- :mod:`.priority`   — host-credit + depth + recrawl-age scoring (A6/BFS order)
- :mod:`.dedupe`     — exact seen-set anti-joins + within-batch dedupe (A7)
- :mod:`.seenset`    — partitioned bloom/cuckoo seen-set blobs: build, probe, incremental update
- :mod:`.robots`     — per-host robots.txt rule application
- :mod:`.politeness` — per-registered-domain budget, salted two-phase top-k (A5)
- :mod:`.rank`       — distributed two-phase global row number (fetch order)
- :mod:`.health`     — per-domain fetch-failure stats and priority downweight (A11)
- :mod:`.components` — hash-min connected components for near-duplicate clusters
"""
