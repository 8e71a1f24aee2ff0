"""Job-level extraction config.

Mirrors the reference's per-request conversion knobs
(``document_converter/route.py:27-28``: ``extract_tables_as_images`` default
False, ``image_resolution_scale`` default 4 bounded [1,4]) — but as a
*job-level* config object, constant per run and shipped to executors by
closure capture (small, immutable), not per row.
"""

from __future__ import annotations

from dataclasses import dataclass, field


#: reference default — service.py:17
IMAGE_RESOLUTION_SCALE = 4


@dataclass(frozen=True)
class ExtractConfig:
    """All knobs that affect extraction output. Extraction is a pure function
    of ``(document bytes, url, ExtractConfig)`` — determinism invariant
    (SURVEY.md §7.0)."""

    # reference knobs (route.py:27-28)
    extract_tables_as_images: bool = False
    image_resolution_scale: int = IMAGE_RESOLUTION_SCALE

    # our additions (north_rule: spans + lineage)
    emit_spans: bool = True

    # scale mechanics
    num_partitions: int = 64          # manifest width / salted repartition width
    #: how the resume/lineage partition_id is derived (PLANS.md §1):
    #: - "file" (default, scale-safe): hash of the input file name — the
    #:   binary html column NEVER crosses an exchange; extraction is pure
    #:   map-side. Rows without file provenance (synthesized inputs) fall
    #:   back to the url hash. Resume assumes the same input files.
    #: - "salted": hash of the url + an explicit repartition — opt-in for
    #:   pathologically skewed input layouts (one giant unsplittable file),
    #:   at the cost of shuffling the full page bytes once (~2x measured).
    partition_mode: str = "file"

    # boilerplate-strip heuristics (pure integer ratios; §7.3 determinism)
    link_density_num: int = 2         # drop container if link_chars*DEN >= total*NUM
    link_density_den: int = 3
    min_container_chars: int = 10     # containers shorter than this never dropped by density

    # test hook: raise inside the UDF for these partition_ids (resume test)
    fail_partitions: frozenset = field(default_factory=frozenset)

    def __post_init__(self):
        if not (1 <= self.image_resolution_scale <= 4):
            # FastAPI Query(4, ge=1, le=4) — route.py:28
            raise ValueError("image_resolution_scale must be in [1, 4]")
        if self.partition_mode not in ("file", "salted"):
            raise ValueError("partition_mode must be 'file' or 'salted'")
