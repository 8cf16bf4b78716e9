"""Package shipping: every checkout builds its own package zip, so a
session never ships another checkout's code to its Python workers."""

from music_dedupe_spark.session import _package_zip_path


def test_package_zip_path_per_checkout(tmp_path):
    a = str(tmp_path / "a" / "music_dedupe_spark")
    b = str(tmp_path / "b" / "music_dedupe_spark")
    assert _package_zip_path(a) != _package_zip_path(b)
    assert _package_zip_path(a) == _package_zip_path(a)
