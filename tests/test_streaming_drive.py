"""The one streaming driver (streaming/drive.py): a source scan that
keeps every stream on it."""

import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parent.parent
    / "retrieval_augmented_generation__rag__chatbot_with_vector_database_spark"
)
DRIVE = PKG / "streaming" / "drive.py"


def test_streams_start_and_sink_only_through_drive():
    """No module but drive.py starts a stream or sets a trigger, and no
    streaming module but drive.py names a ``batch_id=`` partition."""
    starts, sinks = [], []
    for p in sorted(PKG.rglob("*.py")):
        if p == DRIVE:
            continue
        src = p.read_text()
        if "writeStream" in src or ".trigger(" in src:
            starts.append(str(p.relative_to(PKG)))
        if p.parent.name == "streaming" and "batch_id={" in src:
            sinks.append(str(p.relative_to(PKG)))
    assert starts == [] and sinks == []
