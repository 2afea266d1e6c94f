"""A planted fault for the benchmark's own tests. It lives in an importable
module because Spark's Python workers unpickle it by reference."""

from poc_document_ocr_spark.functions import dispatch

#: a field line that occurs in exactly one payload of a generated corpus:
#: conversation 1, turn 1
MARKER = "identifier: TK-1-0 [0.91]"


def corrupt_one(text):
    """``dispatch.extract``, except that the one payload holding
    :data:`MARKER` comes back with its extracted text altered."""
    extracted, spans, rule, fmt = dispatch.extract(text)
    if text and MARKER in text:
        extracted = extracted + " corrupted"
    return extracted, spans, rule, fmt
