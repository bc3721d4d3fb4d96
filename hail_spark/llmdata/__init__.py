from . import dedup, sampling, scrub, textstats, tokenizer  # noqa: F401
