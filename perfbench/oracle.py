"""Recompute media-span hashes of ``extract_mixed`` pages with the slow
per-pixel oracles::

    SPARK_GRAFT_CKERN=0 python3 perfbench/oracle.py img://pool/7/0 ...

prints the expected output media refs as a JSON list.
``SPARK_GRAFT_CKERN=0`` makes the mask phase use the Python kernel tier.
"""

import hashlib
import json
import os
import sys

import numpy as np

sys.path.insert(0, os.getcwd())

from archive_pdf_tools_spark.corpus.rasters import (  # noqa: E402
    page_spec, render_raster, spec_word_data)
from archive_pdf_tools_spark.kernels.mrc import mrc_mask_phase  # noqa: E402
from archive_pdf_tools_spark.kernels.optimise import (  # noqa: E402
    fast_mask_denoise_slow, optimise_gray_slow, optimise_rgb_slow)


def sha12(a) -> str:
    return hashlib.sha1(np.ascontiguousarray(a).tobytes()).hexdigest()[:12]


def expected_ref(ref: str) -> str:
    spec = page_spec(ref)
    raster = render_raster(spec)
    if spec["bitonal"]:
        return f"{ref}#bitonal={sha12(raster)}"
    mask, _dec, _warn = mrc_mask_phase(raster, spec_word_data(spec),
                                       dpi=spec["dpi"], apply_denoise=False)
    mask = fast_mask_denoise_slow(mask, 4, 2)
    opt = optimise_rgb_slow if raster.ndim == 3 else optimise_gray_slow
    fg = opt(mask, raster, 3)
    bg = opt(~mask, raster, 10)
    return f"{ref}#mrc={sha12(mask)}-{sha12(fg)}-{sha12(bg)}"


if __name__ == "__main__":
    print(json.dumps([expected_ref(r) for r in sys.argv[1:]]))
