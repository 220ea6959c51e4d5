"""Vectorized extraction stages (mapInPandas over Arrow record batches).

The engine's operator API per SURVEY.md §2.11: the fused production
stage ``extract_stage`` plus ``decode_pages``, the page-row view that
carries each page's embedded images (S4).
"""

from .stages import decode_pages, extract_stage  # noqa: F401
