import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from ragflow_spark.session import get_spark

    s = get_spark("ragflow_spark-tests", master="local[4]")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    yield s
    s.stop()


REFERENCE_ROOT = "/root/reference"  # checkout of the reference project the parity tests execute


def read_reference(path: str) -> str:
    """The text of ``path`` in the reference checkout.  When the file is
    absent the calling test, or the fixture that calls this, skips and
    names the path."""
    if not os.path.isfile(path):
        pytest.skip(f"reference file {path} is absent")
    with open(path, encoding="utf-8") as f:
        return f.read()


def strip_position_tags(text: str) -> str:
    """The reference's ``RAGFlowPdfParser.remove_tag``
    (deepdoc/parser/pdf_parser.py:1142-1144): drop every in-band
    ``@@pn\tx0\tx1\ttop\tbottom##`` position tag."""
    return re.sub(r"@@[\t0-9.-]+?##", "", text)
