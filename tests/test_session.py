"""Package shipping (session.ensure_on_workers): the zip handed to
addPyFile lives in one temp directory per package content, so many
Spark applications leave one lss_pyfiles_* directory, not one each."""

import os
import tempfile
import uuid
import zipfile


class _Context:
    def __init__(self):
        self.applicationId = f"app-{uuid.uuid4()}"
        self.py_files = []

    def addPyFile(self, path):
        self.py_files.append(path)


class _Session:
    def __init__(self):
        self.sparkContext = _Context()


def test_one_pyfiles_dir_across_applications(tmp_path, monkeypatch):
    from lucene_solr_spark.session import ensure_on_workers

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    apps = [_Session(), _Session()]
    for app in apps:
        ensure_on_workers(app)
        ensure_on_workers(app)  # idempotent within an application
    dirs = sorted(tmp_path.glob("lss_pyfiles_*"))
    assert len(dirs) <= 1
    shipped = [p for app in apps for p in app.sparkContext.py_files]
    assert len(shipped) == 2 and len(set(shipped)) == 1
    # the zip stays in place for executors and holds the package
    assert os.path.exists(shipped[0])
    with zipfile.ZipFile(shipped[0]) as zf:
        assert "lucene_solr_spark/session.py" in zf.namelist()
    # no build leftovers beside the zip
    assert os.listdir(dirs[0]) == ["lucene_solr_spark.zip"]
