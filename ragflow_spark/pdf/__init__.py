"""Model-free PDF layout geometry + table-structure recovery.

Everything here operates on plain box dicts inside a pandas-UDF batch
(SURVEY.md §2.4): geometry never crosses the shuffle.  The ONNX
detector stages (OCR / layout / TSR models) are optional plugins that
*tag* boxes; all downstream logic is pure Python/numpy and is covered
by synthetic-box tests.
"""
