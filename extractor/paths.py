"""T13: markdown→images relative-path computation.

Reference: ``HTMLProcessor._calculate_image_path_for_markdown``
(app/core/html_processor.py:128-152) — dead code in the main flow (the
caller hardcodes ``"images"`` at :67-69), implemented for completeness:
``relpath(html_dir / images_folder, md_dir)`` with separators normalized to
'/', falling back to the absolute images path when the two locations share
no root (the reference's Windows different-drive ValueError branch).

Two surfaces:

- :func:`relative_image_path` — the scalar function, byte-parity with the
  reference semantics (pytest-pinned against ``os.path.relpath`` on a path
  battery, including the different-drive fallback via ``ntpath``).
- :func:`relative_image_path_col` — the distributed variant: pure Spark
  higher-order functions (split → common-prefix fold → '..' padding →
  join), JVM-side and codegen'd, zero Python in the hot path.  Oracle-
  checked through the ``t13_relative_paths`` driver query.

Precondition (holds for every reference call site): both paths are plain
file paths of the same flavor (no trailing slash; both relative or both
absolute), so no cwd resolution is involved.
"""

from __future__ import annotations

import posixpath

from pyspark.sql import Column, functions as F

# the folder the reference's caller hardcodes (html_processor.py:67-69)
IMAGES_FOLDER = "images"


def relative_image_path(
    html_path: str,
    md_path: str,
    images_folder: str = "images",
    pathmod=posixpath,
) -> str:
    """Relative path from ``md_path``'s directory to ``html_path``'s
    sibling ``images_folder`` — html_processor.py:128-152 semantics,
    including the different-drive fallback (:150-152)."""
    html_images = pathmod.join(pathmod.dirname(html_path), images_folder)
    try:
        rel = pathmod.relpath(html_images, pathmod.dirname(md_path))
        return rel.replace("\\", "/")
    except ValueError:
        return html_images.replace("\\", "/")


def relative_image_path_col(html_path: Column, md_path: Column) -> Column:
    """Distributed :func:`relative_image_path` (posix flavor): computed
    per row with JVM higher-order functions — the form the engine uses
    when the corpus carries per-document output locations.

    Algorithm: split both directories on '/', fold a common-prefix length
    (the accumulator advances only while every prior segment matched),
    then emit ``'..' × (len(md_dir) − k)`` followed by the unmatched target
    segments; an empty result is '.' (same-dir case is ``IMAGES_FOLDER``
    itself since the target always ends with it)."""
    def _dir_segments(p: Column) -> Column:
        parts = F.split(p, "/")
        return F.slice(parts, 1, F.size(parts) - 1)

    target = F.concat(
        _dir_segments(html_path), F.array(F.lit(IMAGES_FOLDER))
    )
    md_dir = _dir_segments(md_path)
    bound = F.least(F.size(md_dir), F.size(target))
    k = F.when(bound < 1, F.lit(0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), bound),
            F.lit(0),
            lambda acc, i: F.when(
                (acc == i - 1)
                & (F.element_at(md_dir, i) == F.element_at(target, i)),
                i,
            ).otherwise(acc),
        )
    )
    ups = F.array_repeat(F.lit(".."), F.size(md_dir) - k)
    rest = F.slice(target, k + 1, F.size(target) - k)
    joined = F.array_join(F.concat(ups, rest), "/")
    return F.when(joined == "", F.lit(".")).otherwise(joined)
