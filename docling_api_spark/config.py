"""Job-level extraction config.

Mirrors the reference's per-request ``extract_tables_as_images`` knob
(``document_converter/route.py:27``, default False) — but as a *job-level*
config object, constant per run and shipped to executors by closure capture
(small, immutable), not per row. The reference's ``image_resolution_scale``
(``route.py:28``) sizes docling's page renders; the engine renders no page
images, so it has no counterpart here. Spans are always emitted, and the
boilerplate-strip thresholds are constants of ``operators/html_extract.py``:
no caller ever set them.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class ExtractConfig:
    """All knobs that affect extraction output. Extraction is a pure function
    of ``(document bytes, url, ExtractConfig)`` — determinism invariant
    (SURVEY.md §7.0)."""

    # reference knob (route.py:27)
    extract_tables_as_images: bool = False

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

    def __post_init__(self):
        if self.partition_mode not in ("file", "salted"):
            raise ValueError("partition_mode must be 'file' or 'salted'")
