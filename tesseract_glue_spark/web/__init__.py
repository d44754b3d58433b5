"""Web-document main-content extraction: DOM-heuristic HTML boilerplate
removal, one page in and its main text out (``html_main.extract_main``).

The north-star pipeline treats web documents as interleaved text+media:
text spans carry HTML whose *main content* must be isolated from
navigation/footer/ad chrome before the text enters a training corpus.
The kernel here is dependency-free (a regex tokenizer linear in the page
length, with stdlib ``html.parser`` as its differential reference) and
runs Arrow-batched inside ``mapInPandas`` — never per-row Python UDFs.
"""
