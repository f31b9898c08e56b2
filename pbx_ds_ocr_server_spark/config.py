"""Job configuration — the analog of the reference's env-driven Settings.

Mirrors the capacity limits of ``/root/reference/app/config.py`` (max upload
200 MB @ :62, max pages 500 @ :63, batch page size 50 @ :64-65, image bounds
@ :68-69) as plain dataclass fields. Everything here is job-level config, not
per-row state (SURVEY.md §1.1).
"""

from __future__ import annotations

from dataclasses import dataclass

# full.md page/block join separator (reference: pipeline.py:205) — part of
# the byte-identity output spec, so a constant rather than a config field
PAGE_SEPARATOR = "\n\n"


@dataclass(frozen=True)
class ExtractConfig:
    # --- limits (reference: app/config.py:62-65) ---
    max_bytes: int = 200 * 1024 * 1024  # F1 size predicate (200 MB)
    max_pages: int = 500                # F2 page-count predicate
    # --- page selection (reference: dsocr_model.py:106-141) ---
    page_ranges: str | None = None      # "1-3,5,7-8" spec, None → all pages
    # --- bounded-work guards (analog of image clamp, dsocr_model.py:33-55) ---
    max_block_chars: int = 1 << 20      # cap text accumulated per block
    max_blocks_per_doc: int = 50_000    # cap DOM blocks scanned per document
    # --- output rendering (reference full.md is markdown: pipeline.py:189-205
    #     merges model markdown; 'markdown' renders the kernel's span
    #     classifications as ## heading / - list_item / fenced pre) ---
    mode: str = "plain"                 # 'plain' | 'markdown'

    def __post_init__(self) -> None:
        # an unknown value would silently run the plain renderer
        if self.mode not in ("plain", "markdown"):
            raise ValueError(f"mode={self.mode!r}: expected 'plain' or 'markdown'")


DEFAULT_CONFIG = ExtractConfig()
