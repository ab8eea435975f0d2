# Numpy re-derivation of the ten estimators on a panel CSV laid out as the
# reference's example_dat.csv: row index first, users fastest within t,
# and columns is_internal, x1, x2, x3, p_h, p_h_a, a, y and user_id.
#     python3 tools/golden_oracle.py [panel.csv [estimates.csv]]
# Without an argument it reads the reference panel (Battery.examplePath).
# It prints the eight methods the reference's goldens check; with an
# estimates path it also writes all ten (method, coef, estimate, se,
# tilt_warning) at full precision.
import sys
import numpy as np, pandas as pd
np.set_printoptions(suppress=True)

d = pd.read_csv(sys.argv[1] if len(sys.argv) > 1 else '/root/reference/example_dat.csv')
d = d.rename(columns={d.columns[0]:'rowidx'})

def glm_logistic(X, y, max_iter=25, tol=1e-8):
    # R glm.fit: IRLS from mustart=(y+0.5)/2, converge on relative deviance
    mu = (y + 0.5)/2
    eta = np.log(mu/(1-mu))
    dev = np.sum(-2*(y*np.log(mu) + (1-y)*np.log(1-mu)))
    beta = None; converged = False
    for it in range(max_iter):
        p = 1/(1+np.exp(-eta)); W = np.clip(p*(1-p), 1e-300, None)
        z = eta + (y-p)/W
        XtW = X.T*W
        beta = np.linalg.solve(XtW@X, XtW@z)
        eta = X@beta
        mu = 1/(1+np.exp(-eta))
        mu_c = np.clip(mu, 1e-300, 1-1e-16)
        dev_new = np.sum(-2*(y*np.log(mu_c) + (1-y)*np.log(1-mu_c)))
        if abs(dev_new - dev)/(abs(dev_new)+0.1) < tol:
            converged = True; dev = dev_new; break
        dev = dev_new
    eps = 10*np.finfo(float).eps
    warn = (mu < eps).any() or (mu > 1-eps).any() or not converged
    return beta, warn

def wls(X, y, w):
    XtW = X.T*w
    return np.linalg.solve(XtW@X, XtW@y)

def quantile7(x, p):
    x = np.sort(np.asarray(x)); n=len(x); h=(n-1)*p; fl=int(np.floor(h))
    return x[fl] + (h-fl)*(x[min(fl+1,n-1)]-x[fl])

def bspline_basis(x, knots_full, degree):
    # Cox-de Boor; returns all basis funcs, standard
    t = np.asarray(knots_full); K = len(t)-degree-1
    B = np.zeros((len(x), K))
    # degree 0
    B0 = np.zeros((len(x), len(t)-1))
    for j in range(len(t)-1):
        if t[j] < t[j+1]:
            B0[:,j] = (x >= t[j]) & (x < t[j+1])
    # rightmost: include x == last knot
    last = np.max(np.where(t < t[-1])[0]) if (t < t[-1]).any() else 0
    B0[x == t[-1], last] = 1.0
    Bc = B0
    for k in range(1, degree+1):
        Bn = np.zeros((len(x), len(t)-k-1))
        for j in range(len(t)-k-1):
            left = np.zeros(len(x)); right = np.zeros(len(x))
            if t[j+k] > t[j]:
                left = (x - t[j])/(t[j+k]-t[j])*Bc[:,j]
            if t[j+k+1] > t[j+1]:
                right = (t[j+k+1] - x)/(t[j+k+1]-t[j+1])*Bc[:,j+1]
            Bn[:,j] = left+right
        Bc = Bn
    return Bc[:, :K] if Bc.shape[1]>=K else Bc

def r_bs(x, df, degree):
    nk = df - degree
    bk = [np.min(x), np.max(x)]
    iknots = [quantile7(x, (i+1)/(nk+1)) for i in range(nk)]
    t = np.array([bk[0]]*(degree+1) + iknots + [bk[1]]*(degree+1))
    B = bspline_basis(x, t, degree)
    return B[:, 1:]  # drop first (intercept=FALSE)

def tilt_design(dat, df, degree):
    b1 = r_bs(dat.x1.values, df, degree)
    b2 = r_bs(dat.x2.values, df, degree)
    n = len(dat); cols=[np.ones(n)]
    cols += [b1[:,j] for j in range(b1.shape[1])]
    cols += [b2[:,j] for j in range(b2.shape[1])]
    # interaction: first factor varies fastest within second
    for k in range(b2.shape[1]):
        for j in range(b1.shape[1]):
            cols.append(b1[:,j]*b2[:,k])
    return np.column_stack(cols)

def fit_tilt(dat):
    y = dat.is_internal.values.astype(float)
    for (df_, deg) in [(3,2),(2,2),(1,1)]:
        X = tilt_design(dat, df_, deg)
        beta, warn = glm_logistic(X, y)
        if not warn: return X, beta, X.shape[1] <= 10
    return X, beta, True

def sandwich_balanced(scores, H, n_users, d_):
    n = scores.shape[0]; t_max = round(n/n_users)
    agg = scores.reshape(n_users, t_max, d_).sum(axis=1)
    meat = agg.T@agg
    C = np.linalg.cholesky(meat)
    half = np.linalg.solve(H, C)
    return half@half.T * n_users/(n_users-d_)

def etwcls(dat, pooling):
    n = len(dat); y=dat.y.values; a=dat.a.values
    isI = dat.is_internal.values; isE = ~isI
    # p_r: a ~ 1
    Xa = np.ones((n,1)); alpha,_ = glm_logistic(Xa, a)
    p_r = 1/(1+np.exp(-(Xa@alpha)))
    a_c = a - p_r; p_r_a = a*p_r+(1-a)*(1-p_r); w = p_r_a/dat.p_h_a.values
    # tilt
    Xo, omega, tilt_warn = fit_tilt(dat)
    pi_int = isI.mean()
    omega = omega.copy(); omega[0] -= np.log(pi_int/(1-pi_int))
    raw_tilt = np.exp(Xo@omega)
    tilt = isI + isE*raw_tilt
    w_t = w*tilt
    # design: et_beta_h_formula (no global intercept? y ~ 0 + ...): 8 cols
    x1,x2,x3 = dat.x1.values, dat.x2.values, dat.x3.values
    Xh = np.column_stack([isI.astype(float), isI*x1, isI*x2, isI*x3,
                          isE.astype(float), isE*x1, isE*x2, isE*x3])
    Xr = np.column_stack([isI*a_c, isI*a_c*x1, isE*a_c, isE*a_c*x1])
    # wcls_formula = update(et_beta_h_formula, .~.+(...)): response y, terms: all, intercept?
    # et_beta_h_formula has 0 + ... -> update keeps no intercept? update(y~0+A, .~.+B) -> y ~ A+B+0? R: update keeps the 0.
    # beta_r_formula update(. ~ .) char [3] = "0 + I(...) + ..." spliced -> formula y ~ 0 + A... + (0 + B...)
    Xhr = np.column_stack([Xh, Xr])
    beta = wls(Xhr, y, w_t)
    beta_h, beta_r = beta[:8], beta[8:]
    # sandwich
    d_a, d_o, d_h, d_r = 1, Xo.shape[1], 8, 4
    d_ = d_a+d_o+d_h+d_r
    S = np.zeros((n,d_)); H = np.zeros((d_,d_))
    S[:,0] = a - p_r; H[0,0] = np.sum(p_r*(1-p_r))
    sl_o = slice(1,1+d_o)
    rho = pi_int/(1-pi_int)
    p_om_num = rho*raw_tilt; p_om = p_om_num/(1+p_om_num)
    S[:,sl_o] = (isI - p_om)[:,None]*Xo
    H[sl_o,sl_o] = (Xo*( p_om*(1-p_om))[:,None]).T@Xo
    sl_hr = slice(1+d_o, d_)
    fit_h = Xh@beta_h; fit_r = Xr@beta_r
    resid = y - fit_h - fit_r; wres = w_t*resid
    S[:,sl_hr] = wres[:,None]*Xhr
    H[sl_hr,sl_hr] = (Xhr*w_t[:,None]).T@Xhr
    # cross: hr x alpha
    Xr_raw = Xr/a_c[:,None]
    pda = -(2*a-1)*p_r*(1-p_r); logd = pda/p_r_a; prd = -(1-p_r)
    prXr = p_r[:,None]*Xr_raw
    t1 = (Xhr*wres[:,None]).T@logd
    blk = np.column_stack([np.zeros((n,8)), -prXr])
    t2 = (blk*wres[:,None]).T@prd
    t3 = (Xhr*((p_r*fit_r/a_c*w*tilt))[:,None]).T@prd
    H[sl_hr, 0] = t1+t2+t3
    H[sl_hr, sl_o] = -(Xhr*(isE*wres)[:,None]).T@Xo
    n_users = dat.user_id.nunique()
    sand = sandwich_balanced(S, H, n_users, d_)
    pos = 1+d_o+d_h
    V = sand[pos:pos+d_r, pos:pos+d_r]
    Lam = np.linalg.inv(V)
    if pooling=='kronecker' or pooling=='equal':
        if pooling=='kronecker':
            Lt = np.array([[Lam[0,0],Lam[0,2]],[Lam[2,0],Lam[2,2]]])
        else:
            Lt = np.eye(2)*0.5
        w1, w2 = Lt[:,0].sum(), Lt[:,1].sum(); ws = w1+w2
        brp = (w1*beta_r[:2]+w2*beta_r[2:])/ws
        kron = np.kron(Lt[0,:].reshape(1,2), np.eye(2)) + np.kron(Lt[1,:].reshape(1,2), np.eye(2))
        Vp = kron@V@kron.T/ws**2
    else:
        fh, sh = slice(0,2), slice(2,4)
        Ls = Lam[fh,fh]+Lam[fh,sh]+Lam[sh,fh]+Lam[sh,sh]
        Lsi = np.linalg.inv(Ls)
        z = Lam@beta_r; zs = z[:2]+z[2:]
        brp = Lsi@zs
        Lh = Lam[fh,:]+Lam[sh,:]
        Vp = Lsi@Lh@V@Lh.T@Lsi
    return brp, np.sqrt(np.diag(Vp)), tilt_warn

fits = {}
for pm, name in [('equal','ET-WCLS-Equal'), ('kronecker','ET-WCLS-Kron'), ('full','ET-WCLS')]:
    br, se, tw = fits[name] = etwcls(d, pm)
    print(f'ET-WCLS-{pm:10s}', np.round(br,3), np.round(se,3), 'warn=',tw)
print('golden equal: -1.802 (1.514) 5.688 (1.682)')
print('golden kron : -1.826 (1.238) 5.924 (1.365)')
print('golden full : -2.003 (1.11) 6.028 (1.22)')

def pwcls(dat, internal_only=False, observational=False):
    if internal_only: datp = dat[dat.is_internal].reset_index(drop=True)
    else: datp = dat.reset_index(drop=True)
    n = len(datp); y=datp.y.values; a=datp.a.values
    isI = datp.is_internal.values
    x1,x2,x3 = datp.x1.values, datp.x2.values, datp.x3.values
    p_h_a = datp.p_h_a.values
    d_ah = 0
    if observational:
        Xah = np.column_stack([np.ones(n), isI.astype(float), x1, x2, x3])
        alpha_h,_ = glm_logistic(Xah, a)
        p_h_hat = 1/(1+np.exp(-(Xah@alpha_h)))
        p_h_a = a*p_h_hat + (1-a)*(1-p_h_hat)
        d_ah = 5
    # p_s: a ~ 1
    Xa = np.ones((n,1)); alpha_s,_ = glm_logistic(Xa, a)
    p_s = 1/(1+np.exp(-(Xa@alpha_s)))
    a_c = a - p_s
    p_s_a = a*p_s + (1-a)*(1-p_s)
    w = p_s_a / p_h_a
    Xh = np.column_stack([np.ones(n), x1, x2, x3])
    Xs = np.column_stack([a_c, a_c*x1, a_c*x2])
    Xhs = np.column_stack([Xh, Xs])
    beta = wls(Xhs, y, w)
    beta_h, beta_s = beta[:4], beta[4:]
    # causal effects (single level): Xs_raw = Xs / a_c
    Xs_raw = Xs / a_c[:,None]
    ce = (Xs_raw@beta_s)  # all rows
    ce_int = ce[isI]
    Xr_int = np.column_stack([np.ones(isI.sum()), x1[isI]])
    beta_r = np.linalg.solve(Xr_int.T@Xr_int, Xr_int.T@ce_int)
    # sandwich
    d_as, d_h, d_s, d_r = 1, 4, 3, 2
    d_ = d_ah + d_as + d_h + d_s + d_r
    S = np.zeros((n,d_)); H = np.zeros((d_,d_))
    cur = 0
    if observational:
        sl_ah = slice(0, d_ah)
        S[:,sl_ah] = (a - p_h_hat)[:,None]*Xah
        H[sl_ah,sl_ah] = (Xah*(p_h_hat*(1-p_h_hat))[:,None]).T@Xah
        cur = d_ah
    sl_as = slice(cur, cur+1)
    S[:,cur] = a - p_s
    H[cur,cur] = np.sum(p_s*(1-p_s))
    sl_hs = slice(cur+1, cur+1+d_h+d_s)
    sl_h = slice(cur+1, cur+1+d_h)
    sl_s = slice(cur+1+d_h, cur+1+d_h+d_s)
    resid = y - Xh@beta_h - Xs@beta_s
    wres = w*resid
    S[:,sl_hs] = wres[:,None]*Xhs
    H[sl_hs,sl_hs] = (Xhs*w[:,None]).T@Xhs
    fit_s = Xs@beta_s
    pda = -(2*a-1)*p_s*(1-p_s); logd = pda/p_s_a; lpd = -(1-p_s)
    psXs = p_s[:,None]*Xs_raw
    t1 = (Xhs*wres[:,None]).T@logd
    blk = np.column_stack([np.zeros((n,d_h)), -psXs])
    t2 = (blk*wres[:,None]).T@lpd
    t3 = (Xhs*((p_s*fit_s/a_c*w))[:,None]).T@lpd
    H[sl_hs, cur] = t1+t2+t3
    if observational:
        pdah = -(2*a-1)*p_h_hat*(1-p_h_hat)
        logdh = pdah/p_h_a
        H[sl_hs, sl_ah] = (Xhs*wres[:,None]).T@(logdh[:,None]*Xah)
    sl_r = slice(cur+1+d_h+d_s, d_)
    Xr_full = np.column_stack([np.ones(n), x1])
    Sr = np.zeros((n, d_r))
    Sr[isI] = (ce_int - Xr_int@beta_r)[:,None]*Xr_int
    S[:,sl_r] = Sr
    H[sl_r,sl_r] = Xr_int.T@Xr_int
    H[sl_r,sl_s] = -Xr_int.T@Xs_raw[isI]
    n_users = datp.user_id.nunique()
    sand = sandwich_balanced(S, H, n_users, d_)
    V = sand[d_-2:, d_-2:]
    return beta_r, np.sqrt(np.diag(V)), False

br,se,tw = fits['P-WCLS-Internal'] = pwcls(d, internal_only=True);  print('P-WCLS-Internal  ', np.round(br,3), np.round(se,3), ' golden -1.814 (1.276) 6.321 (1.385)')
br,se,tw = fits['P-WCLS-Pooled'] = pwcls(d);                        print('P-WCLS-Pooled    ', np.round(br,3), np.round(se,3), ' golden -2.363 (0.98) 6.07 (0.994)')
br,se,tw = fits['P-WCLS-Pooled-Obs'] = pwcls(d, observational=True);  print('P-WCLS-Pooled-Obs', np.round(br,3), np.round(se,3), ' golden -2.441 (0.988) 6.272 (1.037)')

def drwcls(dat):
    datp = dat.reset_index(drop=True)
    n = len(datp); y=datp.y.values; a=datp.a.values
    isI = datp.is_internal.values; isE = ~isI
    x1,x2,x3 = datp.x1.values, datp.x2.values, datp.x3.values
    p_h = datp.p_h.values; p_h_a = datp.p_h_a.values
    # p_s
    Xa = np.ones((n,1)); alpha_s,_ = glm_logistic(Xa, a)
    p_s = 1/(1+np.exp(-(Xa@alpha_s)))
    a_c = a - p_s; p_s_a = a*p_s+(1-a)*(1-p_s); w = p_s_a/p_h_a
    Xh = np.column_stack([np.ones(n), x1, x2, x3])
    Xs = np.column_stack([a_c, a_c*x1, a_c*x2])
    Xhs = np.column_stack([Xh, Xs])
    beta = wls(Xhs, y, w); beta_h, beta_s = beta[:4], beta[4:]
    Xs_raw = Xs/a_c[:,None]
    ce = Xs_raw@beta_s
    f_h = Xh@beta_h
    f1 = f_h + np.column_stack([(1-p_s), (1-p_s)*x1, (1-p_s)*x2])@beta_s
    f0 = f_h + np.column_stack([-p_s, -p_s*x1, -p_s*x2])@beta_s
    f_a = a*f1 + (1-a)*f0
    ytd = a - (1-p_h)
    ytf = (y - f_a)/ytd
    yt = ytf + ce
    # tilt
    Xo, omega, tilt_warn = fit_tilt(datp)
    pi_int = isI.mean()
    omega = omega.copy(); omega[0] -= np.log(pi_int/(1-pi_int))
    raw_tilt = np.exp(Xo@omega)
    tilt = isI + isE*raw_tilt
    # DRP: glm(ce ~ x1) on internal — response is wcls_s_causal_effects? r_formula = wcls_s_causal_effects ~ x1
    Xr_int = np.column_stack([np.ones(isI.sum()), x1[isI]])
    Xr_ext = np.column_stack([np.ones(isE.sum()), x1[isE]])
    Xr_all = np.column_stack([np.ones(n), x1])
    beta_r = np.linalg.solve(Xr_int.T@Xr_int, Xr_int.T@ce[isI])
    # DRET closed form: uses y_tilde design (same cols)
    lhs = Xr_int.T@Xr_int/pi_int
    rhs = Xr_int.T@ce[isI]/pi_int + Xr_ext.T@(tilt[isE]*ytf[isE])/(1-pi_int)
    beta_r_et = np.linalg.solve(lhs, rhs)
    # sandwich
    d_as, d_h, d_s, d_o, d_r = 1, 4, 3, Xo.shape[1], 2
    d_ = d_as + d_h + d_s + d_o + 1 + 2*d_r
    S = np.zeros((n,d_)); H = np.zeros((d_,d_))
    S[:,0] = a-p_s; H[0,0] = np.sum(p_s*(1-p_s))
    sl_h = slice(1,1+d_h); sl_s = slice(1+d_h,1+d_h+d_s); sl_hs = slice(1,1+d_h+d_s)
    resid = y - Xh@beta_h - Xs@beta_s; wres = w*resid
    S[:,sl_hs] = wres[:,None]*Xhs
    H[sl_hs,sl_hs] = (Xhs*w[:,None]).T@Xhs
    fit_s = Xs@beta_s
    pda = -(2*a-1)*p_s*(1-p_s); logd = pda/p_s_a; lpd = -(1-p_s)
    psXs = p_s[:,None]*Xs_raw
    H[sl_hs,0] = ((Xhs*wres[:,None]).T@logd
                  + (np.column_stack([np.zeros((n,d_h)), -psXs])*wres[:,None]).T@lpd
                  + (Xhs*((p_s*fit_s/a_c*w))[:,None]).T@lpd)
    sl_o = slice(1+d_h+d_s, 1+d_h+d_s+d_o)
    rho = pi_int/(1-pi_int); p_om_num = rho*raw_tilt; p_om = p_om_num/(1+p_om_num)
    S[:,sl_o] = (isI-p_om)[:,None]*Xo
    H[sl_o,sl_o] = (Xo*(p_om*(1-p_om))[:,None]).T@Xo
    pos_pi = 1+d_h+d_s+d_o
    S[:,pos_pi] = isI - pi_int
    H[pos_pi,pos_pi] = n
    sl_r = slice(pos_pi+1, pos_pi+1+d_r)
    sl_ret = slice(pos_pi+1+d_r, d_)
    Sr = np.zeros((n,d_r)); Sr[isI] = (yt[isI]-Xr_int@beta_r)[:,None]*Xr_int
    S[:,sl_r] = Sr
    H[sl_r,sl_r] = Xr_int.T@Xr_int
    H[sl_r,sl_h] = Xr_int.T@(Xh[isI]/ytd[isI][:,None])
    H[sl_r,sl_s] = Xr_int.T@(Xs[isI]/ytd[isI][:,None] - Xs_raw[isI])
    S[:,sl_ret] = ((isE*tilt*(y-f_a)/(ytd*(1-pi_int)) + isI*(f1-f0-Xr_all@beta_r_et)/pi_int)[:,None]) * Xr_all
    H[sl_ret,sl_ret] = Xr_int.T@Xr_int/pi_int
    H[sl_ret,sl_o] = -Xr_ext.T@((tilt[isE]*ytf[isE])[:,None]*Xo[isE])/(1-pi_int)
    H[sl_ret,sl_h] = Xr_ext.T@((tilt[isE]/ytd[isE])[:,None]*Xh[isE])/(1-pi_int)
    H[sl_ret,sl_s] = (Xr_ext.T@((tilt[isE]/ytd[isE])[:,None]*Xs[isE])/(1-pi_int)
                      - Xr_int.T@Xs_raw[isI]/pi_int)
    H[sl_ret,pos_pi] = ((-(1-pi_int)**-2*isE*tilt*(y-f_a)/ytd
                         + pi_int**-2*isI*(f1-f0-Xr_all@beta_r_et))[:,None]*Xr_all).sum(axis=0)
    n_users = datp.user_id.nunique()
    sand = sandwich_balanced(S, H, n_users, d_)
    pos0 = pos_pi+1
    V = sand[pos0:, pos0:]
    Lam = np.linalg.inv(V)
    fh, sh = slice(0,d_r), slice(d_r,2*d_r)
    Ls = Lam[fh,fh]+Lam[fh,sh]+Lam[sh,fh]+Lam[sh,sh]
    Lsi = np.linalg.inv(Ls)
    z = Lam@np.concatenate([beta_r, beta_r_et]); zs = z[:d_r]+z[d_r:]
    brp = Lsi@zs
    Lh = Lam[fh,:]+Lam[sh,:]
    Vp = Lsi@Lh@V@Lh.T@Lsi
    return brp, np.sqrt(np.diag(Vp)), tilt_warn

br,se,tw = fits['DR-WCLS'] = drwcls(d); print('DR-WCLS ', np.round(br,3), np.round(se,3), ' golden -2.164 (1.157) 5.944 (1.286)')

def petwcls(dat):
    datp = dat.reset_index(drop=True)
    n = len(datp); y=datp.y.values; a=datp.a.values
    isI = datp.is_internal.values; isE = ~isI
    x1,x2,x3 = datp.x1.values, datp.x2.values, datp.x3.values
    p_h_a = datp.p_h_a.values
    Xa = np.ones((n,1)); alpha_s,_ = glm_logistic(Xa, a)
    p_s = 1/(1+np.exp(-(Xa@alpha_s)))
    a_c = a - p_s; p_s_a = a*p_s+(1-a)*(1-p_s); w = p_s_a/p_h_a
    # tilt
    Xo, omega, tilt_warn = fit_tilt(datp)
    pi_int = isI.mean()
    omega = omega.copy(); omega[0] -= np.log(pi_int/(1-pi_int))
    raw_tilt = np.exp(Xo@omega)
    tilt = isI + isE*raw_tilt
    w_t = w*tilt
    # beta_hs (plain h formula + s formula, weights w)
    Xh = np.column_stack([np.ones(n), x1, x2, x3])
    Xs = np.column_stack([a_c, a_c*x1, a_c*x2])
    Xhs = np.column_stack([Xh, Xs])
    bhs = wls(Xhs, y, w); beta_h, beta_s = bhs[:4], bhs[4:]
    Xs_raw = Xs/a_c[:,None]
    ce = Xs_raw@beta_s
    # beta_hr: et_beta_r_formula terms with plain beta_h_formula, weights w_and_tilt
    Xr = np.column_stack([isI*a_c, isI*a_c*x1, isE*a_c, isE*a_c*x1])
    Xhr = np.column_stack([Xh, Xr])
    bhr = wls(Xhr, y, w_t); beta_h_r, beta_r_wcls = bhr[:4], bhr[4:]
    # beta_r: OLS ce ~ x1 on internal
    Xr_int = np.column_stack([np.ones(isI.sum()), x1[isI]])
    beta_r = np.linalg.solve(Xr_int.T@Xr_int, Xr_int.T@ce[isI])
    # sandwich
    d_as, d_o, d_h, d_s, d_r = 1, Xo.shape[1], 4, 3, 2
    d_ = d_as + d_o + 2*d_h + d_s + 3*d_r
    S = np.zeros((n,d_)); H = np.zeros((d_,d_))
    S[:,0] = a-p_s; H[0,0] = np.sum(p_s*(1-p_s))
    sl_o = slice(1, 1+d_o)
    rho = pi_int/(1-pi_int); p_om_num = rho*raw_tilt; p_om = p_om_num/(1+p_om_num)
    S[:,sl_o] = (isI-p_om)[:,None]*Xo
    H[sl_o,sl_o] = (Xo*(p_om*(1-p_om))[:,None]).T@Xo
    c0 = 1+d_o
    sl_h = slice(c0, c0+d_h); sl_s = slice(c0+d_h, c0+d_h+d_s); sl_hs = slice(c0, c0+d_h+d_s)
    resid = y - Xh@beta_h - Xs@beta_s; wres = w*resid
    S[:,sl_hs] = wres[:,None]*Xhs
    H[sl_hs,sl_hs] = (Xhs*w[:,None]).T@Xhs
    fit_s = Xs@beta_s
    pda = -(2*a-1)*p_s*(1-p_s); logd = pda/p_s_a; lpd = -(1-p_s)
    psXs = p_s[:,None]*Xs_raw
    H[sl_hs,0] = ((Xhs*wres[:,None]).T@logd
                  + (np.column_stack([np.zeros((n,d_h)), -psXs])*wres[:,None]).T@lpd
                  + (Xhs*((p_s*fit_s/a_c*w))[:,None]).T@lpd)
    c1 = c0+d_h+d_s
    sl_h2 = slice(c1, c1+d_h); sl_rw = slice(c1+d_h, c1+d_h+2*d_r); sl_hr = slice(c1, c1+d_h+2*d_r)
    fit_h2 = Xh@beta_h_r; fit_r2 = Xr@beta_r_wcls
    resid2 = y - fit_h2 - fit_r2
    wres2 = w*tilt*resid2
    S[:,sl_h2] = wres2[:,None]*Xh
    S[:,sl_rw] = wres2[:,None]*Xr
    H[sl_hr,sl_hr] = (Xhr*w_t[:,None]).T@Xhr
    Xr_raw = Xr/a_c[:,None]
    psXr = p_s[:,None]*Xr_raw
    H[sl_hr, 0] = (H[sl_hr, 0]
                   + (Xhr*wres2[:,None]).T@logd
                   + (np.column_stack([np.zeros((n,d_h)), -psXr])*wres2[:,None]).T@lpd
                   + (Xhr*((p_s*fit_r2/a_c*w*tilt))[:,None]).T@lpd)
    H[sl_hr, sl_o] = -(Xhr*(isE*wres2)[:,None]).T@Xo
    c2 = c1+d_h+2*d_r
    sl_r = slice(c2, d_)
    Sr = np.zeros((n,d_r)); Sr[isI] = (ce[isI]-Xr_int@beta_r)[:,None]*Xr_int
    S[:,sl_r] = Sr
    H[sl_r,sl_r] = Xr_int.T@Xr_int
    H[sl_r,sl_s] = -Xr_int.T@Xs_raw[isI]
    n_users = datp.user_id.nunique()
    sand = sandwich_balanced(S, H, n_users, d_)
    pos0 = 1+d_o+d_h+d_s+d_h
    V = sand[pos0:, pos0:]
    Lam = np.linalg.inv(V)
    Ls = np.zeros((d_r,d_r))
    for j in range(3):
        for k in range(3):
            Ls += Lam[d_r*j:d_r*(j+1), d_r*k:d_r*(k+1)]
    Lsi = np.linalg.inv(Ls)
    z = Lam@np.concatenate([beta_r_wcls, beta_r])
    zs = z[:d_r]+z[d_r:2*d_r]+z[2*d_r:]
    brp = Lsi@zs
    Lh = Lam[:d_r,:]+Lam[d_r:2*d_r,:]+Lam[2*d_r:,:]
    Vp = Lsi@Lh@V@Lh.T@Lsi
    return brp, np.sqrt(np.diag(Vp)), tilt_warn

br,se,tw = fits['PET-WCLS'] = petwcls(d); print('PET-WCLS', np.round(br,3), np.round(se,3), ' golden -2.561 (0.964) 5.817 (0.959)')

def wcls(dat, internal_only=False):
    # wcls.R: p_r from a ~ 1, then y ~ beta_h + beta_r under w = p_r_a/p_h_a
    datp = (dat[dat.is_internal] if internal_only else dat).reset_index(drop=True)
    n = len(datp); y=datp.y.values; a=datp.a.values
    x1,x2,x3 = datp.x1.values, datp.x2.values, datp.x3.values
    Xa = np.ones((n,1)); alpha,_ = glm_logistic(Xa, a)
    p_r = 1/(1+np.exp(-(Xa@alpha)))
    a_c = a - p_r; p_r_a = a*p_r+(1-a)*(1-p_r); w = p_r_a/datp.p_h_a.values
    Xh = np.column_stack([np.ones(n), x1, x2, x3])
    Xr = np.column_stack([a_c, a_c*x1])
    Xhr = np.column_stack([Xh, Xr])
    beta = wls(Xhr, y, w); beta_r = beta[4:]
    d_ = 1 + 4 + 2
    S = np.zeros((n,d_)); H = np.zeros((d_,d_))
    S[:,0] = a - p_r; H[0,0] = np.sum(p_r*(1-p_r))
    wres = w*(y - Xhr@beta)
    S[:,1:] = wres[:,None]*Xhr
    H[1:,1:] = (Xhr*w[:,None]).T@Xhr
    Xr_raw = Xr/a_c[:,None]
    logd = -(2*a-1)*p_r*(1-p_r)/p_r_a; prd = -(1-p_r)
    H[1:,0] = ((Xhr*wres[:,None]).T@logd
               + (np.column_stack([np.zeros((n,4)), -p_r[:,None]*Xr_raw])*wres[:,None]).T@prd
               + (Xhr*((p_r*(Xr@beta_r)/a_c*w))[:,None]).T@prd)
    sand = sandwich_balanced(S, H, datp.user_id.nunique(), d_)
    return beta_r, np.sqrt(np.diag(sand[5:, 5:])), False

fits['WCLS-Internal'] = wcls(d, internal_only=True)
fits['WCLS-Pooled'] = wcls(d)

if len(sys.argv) > 2:
    with open(sys.argv[2], 'w') as f:
        f.write('method,coef,estimate,se,tilt_warning\n')
        for m in sorted(fits):
            br, se, tw = fits[m]
            for i, coef in enumerate(['Intercept', 'Slope']):
                f.write(f'{m},{coef},{float(br[i])!r},{float(se[i])!r},{str(bool(tw)).lower()}\n')
