"""Pure-numpy feature kernels.

These are the per-doc compute cores: the ground truth that the batched
kernels (``kernels/batch.py``, run inside the one mapInArrow extraction
stage by ``extract_features`` and ``voxel_feature_maps``) are
parity-tested against, and the per-doc matrix builders
``extract_matrices`` calls on that stage's prepared levels and ROI mask.
They are the analog of the reference's C
extensions (/root/reference/radiomics/src/cmatrices.c) + per-class numpy
feature getters — reimplemented from the published formulas, not translated.

Every kernel takes a 1-D integer/float intensity array (the token-intensity
sequence for one entity×timestamp group) and returns a ``dict[str, float]``.
"""

from pyradiomics_spark.kernels.binning import bin_edges, discretize  # noqa: F401
from pyradiomics_spark.kernels.firstorder import firstorder_features  # noqa: F401
from pyradiomics_spark.kernels.glcm import glcm_matrix, glcm_features  # noqa: F401
from pyradiomics_spark.kernels.glrlm import glrlm_matrix, glrlm_features  # noqa: F401
from pyradiomics_spark.kernels.glszm import glszm_matrix, glszm_features  # noqa: F401
from pyradiomics_spark.kernels.ngtdm import ngtdm_matrix, ngtdm_features  # noqa: F401
from pyradiomics_spark.kernels.gldm import gldm_matrix, gldm_features  # noqa: F401
