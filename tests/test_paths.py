"""T13 relative-path computation: byte parity with os.path.relpath
semantics (the reference's _calculate_image_path_for_markdown,
html_processor.py:128-152), scalar and distributed variants."""

import ntpath
import os
import posixpath

import pytest

from extractor import paths
from extractor.paths import relative_image_path, relative_image_path_col

BATTERY = [
    # (html_path, md_path, images_folder)
    ("out/conv1/main.html", "out/conv1/doc.md", "images"),
    ("out/conv1/main.html", "out/conv1/sub/doc.md", "images"),
    ("out/conv1/main.html", "out/other/doc.md", "images"),
    ("out/conv1/main.html", "out/a/b/c/doc.md", "images"),
    ("a/main.html", "a/doc.md", "media"),
    ("x/y/z/main.html", "x/doc.md", "images"),
    ("x/main.html", "x/y/z/doc.md", "images"),
    ("/abs/root/main.html", "/abs/root/doc.md", "images"),
    ("/abs/root/deep/main.html", "/abs/elsewhere/doc.md", "images"),
    ("same/main.html", "same/doc.md", "imgs"),
]


@pytest.mark.parametrize("html,md,folder", BATTERY)
def test_scalar_matches_os_relpath(html, md, folder):
    expected = posixpath.relpath(
        posixpath.join(posixpath.dirname(html), folder), posixpath.dirname(md)
    )
    assert relative_image_path(html, md, folder) == expected


def test_different_drive_fallback():
    """The reference's ValueError branch (:150-152): different Windows
    drives → the absolute images path, separators normalized."""
    got = relative_image_path(
        "C:\\out\\conv\\main.html", "D:\\md\\doc.md", "images", pathmod=ntpath
    )
    assert got == "C:/out/conv/images"


def test_column_variant_matches_scalar(spark, monkeypatch):
    rows = [(h, m, f) for h, m, f in BATTERY]
    df = spark.createDataFrame(rows, "html string, md string, folder string")
    # folder differs per row; the expression reads the folder constant on
    # the driver, so patch it per distinct folder value
    for folder in sorted({f for _, _, f in BATTERY}):
        monkeypatch.setattr(paths, "IMAGES_FOLDER", folder)
        sub = df.where(f"folder = '{folder}'")
        got = {
            (r["html"], r["md"]): r["rel"]
            for r in sub.select(
                "html",
                "md",
                relative_image_path_col(sub["html"], sub["md"]).alias("rel"),
            ).collect()
        }
        for (h, m), rel in got.items():
            assert rel == relative_image_path(h, m, folder), (h, m)
