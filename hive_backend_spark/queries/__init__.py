"""Named query definitions. Importing this package populates the registry.

Modules map to SURVEY.md sections:
    relational  — §2.1-2.8 scans/filters/joins/aggs/sorts/set-ops/windows
    queue       — §2.9 queue semantics, batch-deterministic forms (Q1-Q13)
    analytics   — showcase star-schema analytics (TPC-H-shaped plans)
    tpch_extra  — remaining classic TPC-H query shapes adapted to the schema
    sessions    — event-stream behavioral analytics (sessionize/funnel/cohort)
    text        — §7 Phase 3: text analysis + exact dedup on `documents`
    corpus      — §7 Phase 3: decontamination / packing / BM25 / inverted index
    dedup       — §7 Phase 3: MinHash-LSH / SimHash / n-gram Jaccard near-dup
    similarity  — §7 Phase 3: embedding similarity / ANN on `embeddings`
    payload     — §1.2 typed nested Slides element payload extraction
    sampling    — §7 Phase 3: deterministic sampling / split assignment
    multimodal  — §7 Phase 3: binary-column plumbing
"""

from . import (  # noqa: F401
    analytics,
    corpus,
    dedup,
    multimodal,
    payload,
    queue,
    relational,
    sampling,
    sessions,
    similarity,
    text,
    tpch_extra,
)
