"""Web-document main-content extraction: DOM-heuristic HTML boilerplate
removal.

The north-star pipeline treats web documents as interleaved text+media:
text spans carry HTML whose *main content* must be isolated from
navigation/footer/ad chrome before the text enters a training corpus.
The kernel here is dependency-free (one compiled-regex tokenizer, with
stdlib ``html.parser`` as its differential reference) and runs
Arrow-batched inside ``mapInPandas`` — never per-row Python UDFs.
"""
